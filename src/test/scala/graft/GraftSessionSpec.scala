package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the session's codegen defaults: a class compiled once stays
  * compiled while the JVM's working set exceeds Spark's default cache
  * of 100 classes, and an identical pipeline at another codegen stage
  * id reuses its class instead of compiling a copy. */
class GraftSessionSpec extends SparkSpecBase {

  /** Classes Janino compiled while `body` ran (cache misses). */
  private def compiles[A](body: => A): (A, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val a = body
    (a, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  /** A filter/project pipeline whose inlined literal makes its generated
    * code new to this JVM, whatever ran before it. */
  private def freshPipeline(salt: Long): DataFrame =
    spark.range(0, 64, 1, 1)
      .filter(col("id") % 3 =!= 0)
      .select(col("id"), (col("id") * lit(salt)).as("v"))

  test("a compiled pipeline is reused after more than 100 other classes") {
    // the flagship registry row on the small tables
    def rows() = SparkEntry.entry(spark).collect().map(_.toString).sorted.toSeq
    val first = rows()
    val salt = System.nanoTime()
    val (_, between) = compiles((1 to 120).foreach(i => freshPipeline(salt + i).collect()))
    assert(between > 100, s"the workload in between compiled only $between classes")
    val (again, repeat) = compiles(rows())
    assert(repeat == 0, s"the repeat recompiled $repeat classes")
    assert(again == first)
  }

  test("an identical pipeline at another codegen stage id compiles once") {
    val salt = System.nanoTime()
    val p = freshPipeline(salt)
    val other = freshPipeline(salt + 1)
    val (standalone, once) = compiles(p.collect().toSeq)
    assert(once > 0)
    other.collect()
    // `other` is codegen stage 1 of the union and `p` stage 2; standalone
    // `p` was stage 1
    val (unioned, twice) = compiles(other.union(p).collect().toSeq)
    assert(twice == 0, s"the union recompiled $twice classes")
    assert(unioned.takeRight(standalone.size) == standalone)
  }
}
