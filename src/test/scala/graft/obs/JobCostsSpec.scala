package graft.obs

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.SparkSpecBase

object JobCostsSpec {
  // Local-mode tasks run in this JVM; the task closure reaches these
  // through the object, so it shares them instead of copying them.
  val running = new CountDownLatch(1)
  val release = new CountDownLatch(1)
}

class JobCostsSpec extends SparkSpecBase {
  import JobCostsSpec._

  test("a 3-partition job reports 3 tasks and an end") {
    val (n, jobs) = JobCosts.during(spark)(spark.sparkContext.parallelize(1 to 30, 3).count())
    assert(n == 30)
    assert(jobs.map(_.tasks) == Seq(3))
    assert(jobs.head.seconds.exists(_ >= 0.0))
    assert(jobs.head.callSite.startsWith("count at JobCostsSpec.scala"))
  }

  test("a job still running when the block returns is open, with no duration") {
    val sc = spark.sparkContext
    val (pending, jobs) = JobCosts.during(spark) {
      val f = Future(sc.parallelize(1 to 2, 2).map { x =>
        running.countDown()
        release.await(60, TimeUnit.SECONDS)
        x
      }.count())
      assert(running.await(60, TimeUnit.SECONDS))
      f
    }
    try {
      assert(jobs.size == 1)
      assert(jobs.head.seconds.isEmpty)
    } finally release.countDown()
    assert(Await.result(pending, 60.seconds) == 2)
  }

  test("a DataFrame action carries a SQL execution id; an RDD action none") {
    val (_, sql) = JobCosts.during(spark)(spark.range(100).selectExpr("id % 7 AS k")
      .groupBy("k").count().collect())
    assert(sql.nonEmpty)
    assert(sql.forall(_.executionId.isDefined), sql)
    val (_, rdd) = JobCosts.during(spark)(spark.sparkContext.parallelize(1 to 3).count())
    assert(rdd.map(_.executionId) == Seq(None))
  }

  test("counts are complete when the block returns") {
    (1 to 10).foreach { i =>
      val (_, jobs) = JobCosts.during(spark) {
        spark.sparkContext.parallelize(1 to 1000, 5).map(x => (x % 13, x))
          .reduceByKey(_ + _, 3).count()
      }
      assert(jobs.size == 1, s"run $i")
      val j = jobs.head
      assert(j.tasks == 5 + 3, s"run $i")
      assert(j.seconds.isDefined, s"run $i")
      assert(j.shuffleWriteBytes > 0 && j.shuffleReadBytes == j.shuffleWriteBytes, s"run $i: $j")
    }
  }
}
