package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs started while a block runs, each with its SQL
  * execution id (None for a job started outside a SQL execution, such
  * as Spark's parquet schema-inference job). */
object JobCounter {
  def during[A](spark: SparkSession)(body: => A): (A, Seq[Option[String]]) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
        ()
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, started.toArray.toSeq.map(_.asInstanceOf[Option[String]]))
    } finally sc.removeSparkListener(listener)
  }
}
