package graft

import org.apache.spark.sql.SparkSession

package object obs {

  // SparkContext's local-property key for the job description
  private[obs] val DescriptionKey = "spark.job.description"

  /** Runs `body` with `name` as the `spark.job.description` of every job
    * it starts, then puts the caller's description back, also when
    * `body` throws. The description is a thread-local property of the
    * active session's context, so a [[graft.pipelines.Par]] fork started
    * inside `body` carries it too, and [[JobCosts]] reports it as each
    * job's `description`. */
  def scope[A](name: String)(body: => A): A = {
    val sc = SparkSession.active.sparkContext
    val outer = sc.getLocalProperty(DescriptionKey)
    sc.setLocalProperty(DescriptionKey, name)
    try body
    finally sc.setLocalProperty(DescriptionKey, outer)
  }
}
