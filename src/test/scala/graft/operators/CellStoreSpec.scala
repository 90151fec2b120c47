package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The lifecycle both celled stores share ([[CellStore]]), one body run
  * against [[VecIndex]] and [[PqIndex]]: the stream hand-back a day-end
  * reconcile makes — stream micro-batches, the landed-id census, the
  * adopt back to the batch discipline, the exact presence probe, and the
  * batch append the adopted epoch then accepts.
  */
class CellStoreSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private lazy val cents: DataFrame = KMeans.contiguous(
    KMeans.lloyd(emb, "vec_id", "embedding", k = 4, iters = 1)).localCheckpoint()

  /** The shared cosine assignment (id, vector, cid) — the driver's
    * one-layout rule for the raw and code stores. */
  private def assigned(rows: DataFrame): DataFrame =
    VecIndex.assignFold(rows, "vec_id", "embedding", cents)
      .select(col("vec_id"), col("embedding"), col("cid"))

  private lazy val quant: DataFrame = PqIndex.quantFrom(cents, assigned(emb),
    "vec_id", "embedding", m = 8, k = 4, iters = 1)

  /** A store under test: how to build it, how to shape a stream
    * micro-batch into its row columns, and its batch append. */
  private final case class Fixture(
      store: CellStore,
      build: (DataFrame, String) => Unit,
      streamRows: DataFrame => DataFrame,
      append: (DataFrame, String) => Unit)

  private val fixtures = Seq(
    "VecIndex" -> (() => Fixture(VecIndex,
      (rows, dir) => VecIndex.build(rows, "vec_id", "embedding", cents, dir,
        persistCentroids = true),
      rows => VecIndex.assignFold(rows, "vec_id", "embedding", cents)
        .select(col("vec_id"), col("embedding"), col("norm"), col("cid")),
      (rows, dir) => VecIndex.append(rows, "vec_id", "embedding", cents, dir))),
    "PqIndex" -> (() => Fixture(PqIndex,
      (rows, dir) => PqIndex.buildAssigned(assigned(rows), "vec_id",
        "embedding", quant, dir),
      rows => PqIndex.encodeAssigned(assigned(rows), "vec_id", "embedding",
        quant),
      (rows, dir) => PqIndex.appendAssigned(assigned(rows), "vec_id",
        "embedding", dir))))

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("vec_id")).collect().map(_.getAs[Number](0).longValue).toSet

  private def idCells(df: DataFrame): Set[(Long, Int)] =
    df.select(col("vec_id"), col("cid")).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).intValue)).toSet

  for ((name, fixture) <- fixtures)
    test(s"$name: stream batches hand back to the batch discipline") {
      val fx = fixture()
      val dir = tempDir(s"cellstore-$name")
      val base = emb.filter(col("vec_id") % 4 === 0)
      val mb0 = emb.filter(col("vec_id") % 4 === 1)
      val mb1 = emb.filter(col("vec_id") % 4 === 2)
      val later = emb.filter(col("vec_id") % 4 === 3)
      fx.build(base, dir)
      val m0 = fx.store.pinStreamAppend(spark, dir, tempDir(s"cellstore-$name-ckpt"))
      fx.store.appendStreamBatch(spark, dir, m0, fx.streamRows(mb0), 0L)
      fx.store.appendStreamBatch(spark, dir, m0, fx.streamRows(mb1), 1L)
      // the census is exactly the two micro-batches' ids
      val streamed = ids(mb0) ++ ids(mb1)
      assert(streamed.nonEmpty && ids(mb0).nonEmpty && ids(later).nonEmpty)
      assert(fx.store.streamDeltaIds(spark, dir, "vec_id").map(ids) == Some(streamed),
        "stream census differs from the landed micro-batches")
      val before = idCells(fx.store.open(spark, dir))
      assert(before.map(_._1) == ids(base) ++ streamed)
      // the adopt re-keys the lineage under a bumped epoch, rows kept
      val epoch = fx.store.currentEpoch(spark, dir)
      assert(fx.store.adoptStreamDelta(spark, dir), "adopt did not re-key the lineage")
      assert(fx.store.currentEpoch(spark, dir) == epoch + 1L)
      assert(idCells(fx.store.open(spark, dir)) == before, "adopt changed the rows")
      assert(fx.store.streamDeltaIds(spark, dir, "vec_id").isEmpty,
        "an adopted epoch still reads as stream-governed")
      assert(!fx.store.adoptStreamDelta(spark, dir), "a second adopt re-keyed again")
      assert(fx.store.currentEpoch(spark, dir) == epoch + 1L)
      // the exact presence probe over a mixed id set
      val probe = mb0.select(col("vec_id")).unionByName(later.select(col("vec_id")))
      assert(ids(fx.store.presentIds(spark, dir, probe)) == ids(mb0),
        "presentIds differs from the present subset")
      // the adopted epoch is batch-governed: a batch append is accepted
      fx.append(later, dir)
      assert(ids(fx.store.open(spark, dir)) == ids(emb),
        "the batch append after the adopt did not land")
    }
}
