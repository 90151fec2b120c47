package graft.operators

import graft.SparkSpecBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The staged partition-set publish: commit-marker semantics, the
  * drop list, roll-forward repair from every crash position, and
  * uncommitted-debris invisibility — [[AtomicSwap]]'s discipline at
  * partition grain. */
class PartitionSwapSpec extends SparkSpecBase {
  import spark.implicits._

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(t: String): Set[(Long, Long)] =
    spark.read.parquet(t).select(col("batch").cast("long"), col("x"))
      .as[(Long, Long)].collect().toSet

  private def seed(t: String): Unit =
    Seq((0L, 1L), (0L, 2L), (10L, 3L), (20L, 4L)).toDF("batch", "x")
      .write.partitionBy("batch").parquet(t)

  test("swap replaces exactly the staged partitions and drops the listed ones") {
    val t = s"${tempDir("pswap")}/t"
    seed(t)
    // replace batch=10, drop batch=20, leave batch=0 untouched
    PartitionSwap.swap(spark, t, drop = Seq("batch=20")) { stage =>
      Seq((10L, 30L)).toDF("batch", "x")
        .write.partitionBy("batch").parquet(stage)
    }
    assert(rows(t) == Set((0L, 1L), (0L, 2L), (10L, 30L)))
    val fs = fsOf(t)
    assert(!fs.exists(new Path(t + "__pcommit")), "marker left behind")
    assert(!fs.exists(new Path(t + "__stage")), "stage left behind")
    // listed through java.io: the checksummed file system hides `.crc` files
    val beside = new java.io.File(t).getParentFile.list().toSeq
    assert(!beside.exists(_.contains("__pcommit")), s"commit debris left behind: $beside")
    // repair on a healthy table is a no-op probe
    PartitionSwap.repair(spark, t)
    assert(rows(t) == Set((0L, 1L), (0L, 2L), (10L, 30L)))
  }

  test("crash before the marker: stage debris is invisible and the next swap clears it") {
    val t = s"${tempDir("pswap-pre")}/t"
    seed(t)
    val before = rows(t)
    Seq((0L, 99L)).toDF("batch", "x")
      .write.partitionBy("batch").parquet(t + "__stage")
    assert(rows(t) == before, "uncommitted stage leaked into reads")
    PartitionSwap.repair(spark, t)
    assert(rows(t) == before, "repair applied an uncommitted stage")
    // the next swap must not publish the dead attempt's partitions
    PartitionSwap.swap(spark, t) { stage =>
      Seq((20L, 40L)).toDF("batch", "x")
        .write.partitionBy("batch").parquet(stage)
    }
    assert(rows(t) == Set((0L, 1L), (0L, 2L), (10L, 3L), (20L, 40L)))
  }

  test("crash after the marker rolls forward: staged replaces, drops drop, repair is idempotent") {
    val t = s"${tempDir("pswap-post")}/t"
    seed(t)
    val fs = fsOf(t)
    // forge the post-marker crash: full stage + marker listing a drop
    Seq((10L, 31L), (30L, 5L)).toDF("batch", "x")
      .write.partitionBy("batch").parquet(t + "__stage")
    val out = fs.create(new Path(t + "__pcommit"), false)
    out.write("batch=20".getBytes("UTF-8")); out.close()
    val want = Set((0L, 1L), (0L, 2L), (10L, 31L), (30L, 5L))
    PartitionSwap.repair(spark, t)
    assert(rows(t) == want, "roll-forward did not land the staged set")
    assert(!fs.exists(new Path(t + "__pcommit")) &&
      !fs.exists(new Path(t + "__stage")), "roll-forward left artifacts")
    PartitionSwap.repair(spark, t)
    assert(rows(t) == want, "second repair changed the table")
  }

  test("crash mid-apply (some partitions already renamed) still converges") {
    val t = s"${tempDir("pswap-mid")}/t"
    seed(t)
    val fs = fsOf(t)
    Seq((0L, 100L), (10L, 101L)).toDF("batch", "x")
      .write.partitionBy("batch").parquet(t + "__stage")
    fs.create(new Path(t + "__pcommit"), false).close()
    // emulate the crash after batch=0 was already applied: its staged
    // dir replaced the live one and is gone from the stage
    fs.delete(new Path(t, "batch=0"), true)
    require(Lease.atomicRename(fs,
      new Path(t + "__stage", "batch=0"), new Path(t, "batch=0")))
    PartitionSwap.repair(spark, t)
    assert(rows(t) == Set((0L, 100L), (10L, 101L), (20L, 4L)),
      "mid-apply crash did not converge")
  }
}
