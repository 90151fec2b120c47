package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

package object operators {
  /** The Hadoop file system that holds `p`, under the session's Hadoop
    * configuration. */
  private[graft] def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
}
