package graft.pipelines

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-model migration: [[DailyDriver.reembed]] must land both
  * vector stores exactly where a fresh init under the new model lands
  * (same pinned quantizer), keep pinned readers on the old pair
  * unperturbed, keep serving steps/searches in the new space, and
  * refuse a source that silently drops an indexed document. The new
  * "model" here halves the dimension (64 → 32, reversed) — the hard
  * case, since any old-space row mixing into a read would break
  * every dot product. */
class DailyDriverReembedSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"
  private val cfg = Curation.Config(minQuality = 2.95)

  private def fixtures(): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb1 = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    // the "new model": different dimension AND different geometry
    val emb2 = emb1.select(col("doc_id"),
      reverse(slice(col("embedding"), 1, 32)).as("embedding"))
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    (docs, emb1, emb2, bench)
  }

  private def vecRows(d: String): Array[String] =
    graft.operators.VecIndex.open(spark, DailyDriver.vecIndexDir(d))
      .collect().map(_.toString).sorted

  private def pqRows(d: String): Array[String] =
    graft.operators.PqIndex.open(spark, DailyDriver.pqIndexDir(d))
      .collect().map(_.toString).sorted

  test("reembed equals a fresh init under the new model, across both stores") {
    val (docs, emb1, emb2, bench) = fixtures()
    val dir = tempDir("reembed")
    DailyDriver.init(spark, docs, bench, dir, cfg, Some(emb1))
    DailyDriver.reembed(spark, dir, emb2)
    // pin the migrated quantizer so the reference init shares the layout
    val cents = graft.operators.VecIndex
      .openCentroids(spark, DailyDriver.vecIndexDir(dir))
      .getOrElse(fail("migrated index has no quantizer")).localCheckpoint()
    val refDir = tempDir("reembed-ref")
    DailyDriver.init(spark, docs, bench, refDir, cfg, Some(emb2),
      quantizer = Some(cents))
    assert(vecRows(dir).sameElements(vecRows(refDir)),
      "raw index diverged from the fresh init under the new model")
    assert(pqRows(dir).sameElements(pqRows(refDir)),
      "code table diverged from the fresh init under the new model")
    // the pair re-aligned: status agrees and the PQ search path serves
    val st = DailyDriver.status(spark, dir)
    assert(st.forall(_.aligned), s"stores desynced after reembed: $st")
    // recurring search in the NEW space: reranked path ≡ exact path
    val qIds = docs.filter(col("doc_id") % 29 === 0 && col("doc_id") < 300)
    val queries = qIds.select(col("doc_id").as("q_id"), col("text"))
    val probes = emb2.join(qIds.select(col("doc_id")), Seq("doc_id"))
      .select(col("doc_id").as("q_id"), col("embedding"))
    def canon(df: DataFrame) = df.collect().map(_.toString).sorted
    assert(canon(DailyDriver.hybridSearch(spark, dir, queries, probes,
        pqDepth = DailyDriver.ExhaustiveRerank))
      .sameElements(canon(DailyDriver.hybridSearch(spark, refDir, queries,
        probes, pqDepth = DailyDriver.ExhaustiveRerank))),
      "migrated hybrid search diverged from the fresh-init reference")
  }

  test("a pinned reader keeps its matched old pair across the migration") {
    val (docs, emb1, emb2, bench) = fixtures()
    val dir = tempDir("reembed-pin")
    DailyDriver.init(spark, docs, bench, dir, cfg, Some(emb1))
    val pinned = DailyDriver.openVecIndex(spark, dir)
    val wantDim = 64
    DailyDriver.reembed(spark, dir, emb2)
    // the pre-migration snapshot still reads, entirely in the OLD space
    val dims = pinned.select(size(col("embedding")).as("d"))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(dims == Seq(wantDim),
      s"pinned reader saw mixed/migrated dimensions: $dims")
    // while a fresh open serves the new space only
    val newDims = DailyDriver.openVecIndex(spark, dir)
      .select(size(col("embedding")).as("d"))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(newDims == Seq(32),
      s"fresh open not entirely in the new space: $newDims")
  }

  test("steps keep landing after the migration, in the new space") {
    val (docs, emb1, emb2, bench) = fixtures()
    val a = docs.filter(col("doc_id") % 4 =!= 0)
    val b = docs.filter(col("doc_id") % 4 === 0)
    val dir = tempDir("reembed-step")
    DailyDriver.init(spark, a, bench, dir, cfg,
      Some(emb1.join(a.select(col("doc_id")), Seq("doc_id"))))
    DailyDriver.reembed(spark, dir,
      emb2.join(a.select(col("doc_id")), Seq("doc_id")))
    DailyDriver.step(spark, b, bench, dir, cfg, Some(emb2))
    val idx = DailyDriver.openVecIndex(spark, dir)
    assert(!idx.join(b.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .isEmpty, "post-migration step landed no arrivals in the index")
    val dims = idx.select(size(col("embedding")).as("d"))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(dims == Seq(32), s"old-space rows leaked into the index: $dims")
  }

  test("a PQ-incompatible dimension is refused before anything mutates") {
    val (docs, emb1, _, bench) = fixtures()
    val dir = tempDir("reembed-dim")
    DailyDriver.init(spark, docs, bench, dir, cfg, Some(emb1))
    val before = vecRows(dir)
    val pqV = graft.operators.PqIndex
      .currentVersion(spark, DailyDriver.pqIndexDir(dir))
    // 36 % PqSubspaces(8) != 0 — must refuse up front, never leaving a
    // migrated raw index paired with a code table no replay can repair
    val emb36 = emb1.select(col("doc_id"),
      slice(col("embedding"), 1, 36).as("embedding"))
    intercept[IllegalArgumentException](
      DailyDriver.reembed(spark, dir, emb36))
    assert(vecRows(dir).sameElements(before),
      "refused reembed still mutated the raw index")
    assert(graft.operators.PqIndex
      .currentVersion(spark, DailyDriver.pqIndexDir(dir)) == pqV,
      "refused reembed still mutated the code table")
  }

  test("a mixed-dimension source is refused before anything mutates") {
    val (docs, emb1, _, bench) = fixtures()
    val dir = tempDir("reembed-mixed")
    DailyDriver.init(spark, docs, bench, dir, cfg, Some(emb1))
    val before = vecRows(dir)
    // a first-row probe would pass this (most rows are 32-dim) — the
    // whole-set min/max check must catch the odd 64-dim rows
    val mixed = emb1.select(col("doc_id"),
      when(col("doc_id") % 7 === 0, col("embedding"))
        .otherwise(slice(col("embedding"), 1, 32)).as("embedding"))
    intercept[IllegalArgumentException](
      DailyDriver.reembed(spark, dir, mixed))
    assert(vecRows(dir).sameElements(before),
      "refused mixed-dimension reembed still mutated the index")
  }

  test("a pre-PQ deployment migrates without being opted into a code table") {
    val (docs, emb1, emb2, bench) = fixtures()
    val dir = tempDir("reembed-nopq")
    DailyDriver.init(spark, docs, bench, dir, cfg, Some(emb1))
    val pqdir = new org.apache.hadoop.fs.Path(DailyDriver.pqIndexDir(dir))
    pqdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(pqdir, true)
    DailyDriver.reembed(spark, dir, emb2)
    assert(graft.operators.PqIndex
      .currentVersion(spark, DailyDriver.pqIndexDir(dir)) == 0L,
      "reembed silently created a code table on a pre-PQ deployment")
    val dims = DailyDriver.openVecIndex(spark, dir)
      .select(size(col("embedding")).as("d"))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(dims == Seq(32), "raw index not migrated on the pre-PQ path")
  }

  test("coverage guard refuses a source that drops an indexed document") {
    val (docs, emb1, emb2, bench) = fixtures()
    val dir = tempDir("reembed-guard")
    DailyDriver.init(spark, docs, bench, dir, cfg, Some(emb1))
    val someIndexed = DailyDriver.openVecIndex(spark, dir)
      .select(min(col("doc_id"))).head.getLong(0)
    val before = vecRows(dir)
    intercept[IllegalArgumentException](DailyDriver.reembed(spark, dir,
      emb2.filter(col("doc_id") =!= someIndexed)))
    assert(vecRows(dir).sameElements(before),
      "refused reembed still mutated the index")
  }
}
