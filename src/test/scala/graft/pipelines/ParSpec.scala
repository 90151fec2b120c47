package graft.pipelines

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.SparkSpecBase
import graft.obs.JobCosts
import org.apache.spark.sql.SparkSession

/** [[Par.forkJoin]]: ordered results, the join-before-rethrow failure
  * rule, and the caller's thread state inside every fork. */
class ParSpec extends SparkSpecBase {

  test("results come back in body order, whatever order the bodies finish in") {
    val out = Par.forkJoin(spark)(
      () => { Thread.sleep(300); 1 },
      () => { Thread.sleep(100); 2 },
      () => 3)
    assert(out == Seq(1, 2, 3))
    val (a, b) = Par.both(spark)({ Thread.sleep(100); "a" }, 2L)
    assert((a, b) == ("a", 2L))
  }

  test("a failing body is rethrown only after every other body has finished") {
    val slowDone = new AtomicBoolean(false)
    val started = new CountDownLatch(1)
    val first = new IllegalStateException("first")
    val second = new IllegalArgumentException("second")
    val thrown = intercept[IllegalStateException] {
      Par.forkJoin[Unit](spark)(
        () => { started.countDown(); Thread.sleep(800); slowDone.set(true) },
        () => { assert(started.await(30, TimeUnit.SECONDS)); throw first },
        () => throw second)
    }
    assert(slowDone.get, "forkJoin threw while a body was still running")
    assert(thrown eq first, "the first failure in body order is the one rethrown")
    assert(thrown.getSuppressed.toSeq == Seq(second))
  }

  test("the job group, local properties and active session reach the forked bodies") {
    val sc = spark.sparkContext
    val other = spark.newSession()
    sc.setJobGroup("par-spec-group", "par spec", interruptOnCancel = false)
    sc.setLocalProperty("par.spec.key", "v1")
    try {
      val caller = Thread.currentThread()
      val seen = Par.forkJoin(other)(Seq.fill(3)(() =>
        (Thread.currentThread() ne caller, sc.getLocalProperty("spark.jobGroup.id"),
          sc.getLocalProperty("par.spec.key"), SparkSession.getActiveSession.orNull)): _*)
      assert(seen.init.forall(_._1), "the leading bodies did not run on other threads")
      seen.foreach { case (_, group, key, _) =>
        assert(group == "par-spec-group")
        assert(key == "v1")
      }
      assert(seen.init.forall(_._4 eq other), "a fork does not see the session it was given")
      // a fork's own property changes stay in the fork
      Par.forkJoin(spark)(() => sc.setLocalProperty("par.spec.key", "v2"), () => ())
      assert(sc.getLocalProperty("par.spec.key") == "v1")
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("par.spec.key", null)
    }
  }

  test("JobCosts.during sees the forked jobs, with their group and description") {
    val sc = spark.sparkContext
    val ran = new ConcurrentLinkedQueue[String]()
    sc.setJobGroup("par-spec-costs", "par spec costs", interruptOnCancel = false)
    try {
      val (_, jobs) = JobCosts.during(spark) {
        Par.forkJoin(spark)((1 to 3).map { i => () =>
          sc.setJobDescription(s"fork $i")
          ran.add(s"fork $i")
          sc.parallelize(1 to 10, 2).count()
        }: _*)
      }
      assert(ran.asScala.toSet == Set("fork 1", "fork 2", "fork 3"))
      assert(jobs.size == 3, jobs)
      assert(jobs.forall(_.seconds.isDefined), jobs)
      assert(jobs.flatMap(_.group).toSet == Set("par-spec-costs"), jobs)
      assert(jobs.flatMap(_.description).toSet == Set("fork 1", "fork 2", "fork 3"), jobs)
    } finally sc.clearJobGroup()
  }
}
