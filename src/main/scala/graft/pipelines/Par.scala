package graft.pipelines

import java.util.concurrent.{CompletableFuture, ExecutionException, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Fork-join over independent job chains on one session.
  *
  * A DailyDriver call touches several stores (signature index, fps,
  * LexIndex, VecIndex, PqIndex, snapshots) that are independent
  * directories, each with its own lease and its own landed-or-not replay
  * guard. Their job chains can run side by side; only the commit point
  * (the decision publish) has to wait for all of them.
  *
  * Each body runs through `SQLExecution.withThreadLocalCaptured`, so it
  * sees the caller's active session and local properties: job group, job
  * description, SQL execution id and streaming query id travel with it,
  * and per-job attribution (`graft.obs.JobCosts`, a caller's job-group
  * spans) keeps working. The last body runs on the calling thread.
  *
  * Failure rule: [[forkJoin]] returns only once every body has finished.
  * It then rethrows the first failure in body order, with the others
  * added as suppressed. No caller code after the join (a lease release,
  * a publish) can therefore run while a fork is still writing. */
object Par {

  private val threads = new AtomicInteger()

  /** Cached, so a fork that forks again never waits for a free thread;
    * daemon, so an idle pool never holds the JVM open. */
  private lazy val pool: ExecutorService = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, s"graft-par-${threads.incrementAndGet()}")
    t.setDaemon(true)
    t
  }

  /** Runs `bodies` concurrently and returns their results in order. */
  def forkJoin[A](spark: SparkSession)(bodies: (() => A)*): Seq[A] =
    if (bodies.size <= 1) bodies.map(_())
    else {
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val forks: Seq[CompletableFuture[A]] =
        bodies.init.map(b => SQLExecution.withThreadLocalCaptured(session, pool)(b()))
      // every throwable, an interrupt included: the forks are joined first
      val last = try Right(bodies.last()) catch { case e: Throwable => Left(e) }
      val outcomes = forks.map(awaitDone) :+ last
      outcomes.collectFirst { case Left(e) => e } match {
        case Some(first) =>
          outcomes.collect { case Left(e) if e ne first => e }.foreach(first.addSuppressed)
          throw first
        case None => outcomes.collect { case Right(a) => a }
      }
    }

  /** [[forkJoin]] over two bodies of different types. */
  def both[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = forkJoin[Any](spark)(() => a, () => b)
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }

  /** The fork's outcome once it has finished. An interrupt of the
    * waiting thread (a stopped stream interrupts its micro-batch) does
    * not end the wait early: it is re-raised on the thread afterwards,
    * while the forks' jobs, which carry the caller's job group, are
    * cancelled with it. */
  private def awaitDone[A](f: CompletableFuture[A]): Either[Throwable, A] = {
    var interrupted = false
    var out: Option[Either[Throwable, A]] = None
    while (out.isEmpty)
      try out = Some(Right(f.get()))
      catch {
        case e: ExecutionException => out = Some(Left(e.getCause))
        case _: InterruptedException => interrupted = true
      }
    if (interrupted) Thread.currentThread().interrupt()
    out.get
  }
}
