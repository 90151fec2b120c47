package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class KMeansSpec extends SparkSpecBase {
  import spark.implicits._

  // Three well-separated direction clusters in 4-D (cosine geometry):
  // axis-aligned groups with small off-axis noise, 30 vectors each.
  private def fixture = {
    // ids interleave clusters (id % 3 = cluster) so the deterministic
    // lowest-id seeding starts with one seed per true cluster — the
    // caller's contract: seed ordering is the user's lever, not RNG
    val rows = for {
      c <- 0 until 3
      i <- 0 until 30
    } yield {
      val base = Array.fill(4)(0.05f * ((i + c) % 3))
      base(c) = 1.0f
      (i * 3L + c, base.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("lloyd recovers separated direction clusters") {
    val cents = KMeans.lloyd(fixture, "vec_id", "embedding", k = 3, iters = 4)
    assert(cents.count() == 3)
    val assigned = KMeans.assign(fixture, "vec_id", "embedding", cents)
      .select($"vec_id", $"cid").as[(Long, Int)].collect()
    // every true cluster maps onto exactly one cell, partitioning the data
    val byTrue = assigned.groupBy(_._1 % 3)
    byTrue.foreach { case (trueC, members) =>
      assert(members.map(_._2).distinct.length == 1,
        s"true cluster $trueC split across cells")
    }
    assert(byTrue.map(_._2.head._2).toSet.size == 3, "cells collapsed")
  }

  test("zero iterations returns the k lowest-id seeds") {
    val cents = KMeans.lloyd(fixture, "vec_id", "embedding", k = 2, iters = 0)
      .orderBy($"cid").collect()
    assert(cents.length == 2)
    val seed0 = cents(0).getSeq[Float](cents(0).fieldIndex("centroid")).toList
    assert(seed0 == fixture.orderBy($"vec_id").select($"embedding")
      .as[Seq[Float]].head().toList)
  }

  test("assignment is exhaustive and exclusive over nonzero vectors") {
    val cents = KMeans.lloyd(fixture, "vec_id", "embedding", k = 3, iters = 2)
    val a = KMeans.assign(fixture, "vec_id", "embedding", cents)
    assert(a.count() == 90)
    assert(a.select($"vec_id").distinct().count() == 90)
    assert(a.agg(min($"cos")).as[Double].head() > 0.0)
  }

  test("cell_top kernel ≡ crossJoin+row_number window (ties, NaN, nprobe>k)") {
    // centroids engineered for the SortOrder edge cases the kernel must
    // replicate bitwise: cid 0 and 1 are IDENTICAL (exact cosine tie →
    // lower cid first), cid 2 carries a NaN element (NaN cosine — the
    // window's descending comparator ranks NaN greatest), cid 3 is a
    // distinct direction; nprobe exceeds k (row_number <= nprobe
    // semantics: all k cells, best-first).
    val vecs = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(0.6f, 0.8f, 0f, 0f))).toDF("vec_id", "embedding")
    val cents = Seq(
      (0, Seq(0.7f, 0.7f, 0f, 0f)),
      (1, Seq(0.7f, 0.7f, 0f, 0f)),
      (2, Seq(Float.NaN, 1f, 0f, 0f)),
      (3, Seq(0f, 0f, 1f, 0f))).toDF("cid", "centroid")
    val nprobe = 6
    val kernel = KMeans.assignTop(vecs, "vec_id", "embedding", cents, nprobe)
      .select($"vec_id", $"prb", $"cid", $"cos")
      .as[(Long, Int, Int, Double)].collect().toSet
    // reference: the replaced window plan, spelled inline
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      call_function("float_dot", a, b)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"cos".desc, $"cid".asc)
    val window = vecs
      .withColumn("norm", sqrt(dot($"embedding", $"embedding")))
      .crossJoin(broadcast(cents
        .withColumn("c_norm", sqrt(dot($"centroid", $"centroid")))))
      .withColumn("cos", dot($"embedding", $"centroid") / ($"norm" * $"c_norm"))
      .withColumn("prb", row_number().over(w))
      .filter($"prb" <= nprobe)
      .select($"vec_id", $"prb", $"cid", $"cos")
      .as[(Long, Int, Int, Double)].collect().toSet
    // compare on keys; cosines bitwise via java bits (NaN == NaN there)
    def key(t: (Long, Int, Int, Double)) =
      (t._1, t._2, t._3, java.lang.Double.doubleToLongBits(t._4))
    assert(kernel.map(key) == window.map(key))
    // every vector got all k cells (nprobe > k), ties resolved 0-before-1
    assert(kernel.count(_._1 == 1L) == 4)
    val tieOrder = kernel.filter(t => t._1 == 3L && t._3 <= 1).toSeq.sortBy(_._2)
    assert(tieOrder.map(_._3) == Seq(0, 1))
  }

  test("zero vectors are excluded rather than assigned arbitrarily") {
    val withZero = fixture.union(Seq((999L, Seq(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding"))
    val cents = KMeans.lloyd(withZero, "vec_id", "embedding", k = 3, iters = 1)
    val a = KMeans.assign(withZero, "vec_id", "embedding", cents)
    assert(!a.select($"vec_id").as[Long].collect().contains(999L))
  }

  test("maybeSpread: a DataSourceV2 scan is a narrow leaf like a V1 scan") {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val dir = tempDir("kmeans-v2-leaf")
    spark.range(0, 400, 1, 4).select($"id".as("__id")).write.parquet(s"$dir/t")
    def spreads(df: org.apache.spark.sql.DataFrame): Int =
      KMeans.maybeSpread(df).queryExecution.optimizedPlan
        .collect { case r: RepartitionByExpression => r }.size
    val key = "spark.sql.sources.useV1SourceList"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "")
    try {
      val v2 = spark.read.parquet(s"$dir/t")
      assert(v2.queryExecution.optimizedPlan.collectLeaves()
        .exists(_.isInstanceOf[DataSourceV2ScanRelation]))
      val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
      assert(v2.rdd.getNumPartitions * 2 >= p, "fixture scan is below half the parallelism")
      assert(spreads(v2) == 0, "a parallel V2 scan was re-spread")
      assert(spreads(v2.filter($"__id" > 3).select($"__id")) == 0)
      // a wide plan over the same scan still gets the spread
      assert(spreads(v2.groupBy($"__id").count()) == 1)
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
