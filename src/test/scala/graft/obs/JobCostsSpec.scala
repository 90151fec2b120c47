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

  test("a job carries its thread's job group and description; a bare job none") {
    val sc = spark.sparkContext
    sc.setJobGroup("costs-spec-group", "costs spec job", interruptOnCancel = false)
    val (_, tagged) =
      try JobCosts.during(spark)(sc.parallelize(1 to 3).count())
      finally sc.clearJobGroup()
    assert(tagged.map(j => (j.group, j.description)) ==
      Seq((Some("costs-spec-group"), Some("costs spec job"))))
    val (_, bare) = JobCosts.during(spark)(sc.parallelize(1 to 3).count())
    assert(bare.map(j => (j.group, j.description)) == Seq((None, None)))
  }

  test("a broadcast job names its plan operator") {
    import org.apache.spark.sql.functions.broadcast
    val (_, jobs) = JobCosts.during(spark)(
      spark.range(1000).join(broadcast(spark.range(10).toDF("id")), "id").collect())
    assert(jobs.exists(_.scope.exists(_.matches("BroadcastExchange \\d+"))), jobs)
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

  test("a scope names every job of its body, forked ones included, and restores the caller's") {
    import org.apache.spark.sql.functions.broadcast
    val sc = spark.sparkContext
    val key = "spark.job.description"
    sc.setJobDescription("caller")
    try {
      val (_, jobs) = JobCosts.during(spark) {
        scope("spec.outer") {
          graft.pipelines.Par.forkJoin(spark)(
            () => sc.parallelize(1 to 3, 3).count(),
            () => scope("spec.inner")(spark.range(1000)
              .join(broadcast(spark.range(10).toDF("id")), "id").collect().length.toLong),
            () => spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count().count())
        }
      }
      assert(jobs.size >= 4, jobs)
      assert(jobs.exists(_.scope.exists(_.startsWith("BroadcastExchange"))), jobs)
      assert(jobs.forall(j => j.description.contains("spec.outer") ||
        j.description.contains("spec.inner")), jobs)
      assert(jobs.exists(_.description.contains("spec.inner")), jobs)
      assert(sc.getLocalProperty(key) == "caller")

      val thrown = intercept[IllegalStateException](scope("spec.failing") {
        sc.parallelize(1 to 2).count()
        throw new IllegalStateException("body failed")
      })
      assert(thrown.getMessage == "body failed")
      assert(sc.getLocalProperty(key) == "caller")
    } finally sc.setJobDescription(null)
    assert(sc.getLocalProperty(key) == null)
  }
}
