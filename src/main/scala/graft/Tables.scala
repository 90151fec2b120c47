package graft

import graft.sources.DriverParquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the harness tables (TESTDATA.md). Explicit helpers keep
  * column pruning/pushdown visible at call sites; the `events` loader
  * normalizes the nanosecond timestamp column.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    DriverParquet.read(spark).load(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** events with `ts` normalized: the harness has shipped the column as
    * INT64 TIMESTAMP(NANOS) (read as Long under
    * spark.sql.legacy.parquet.nanosAsLong), as TIMESTAMP(MICROS) with
    * the UTC flag (Spark TIMESTAMP), and as plain TIMESTAMP(MICROS)
    * without it (Spark TIMESTAMP_NTZ) — expose the same two columns for
    * all three: the exact ns count (`ts_ns`) and an epoch-seconds Long
    * (`ts_sec`), both interpreting the wall clock as UTC exactly like
    * the DuckDB oracle's `epoch_ns(ts)` on a naive timestamp (the
    * session timezone is pinned to UTC in [[GraftSession]], so the
    * NTZ→instant cast is the identity on the wall clock).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts_sec", floor(col("ts_ns") / 1000000000L).cast("long"))
      case _ => // native timestamp (micros) — derive the same two columns
        val asInstant = raw.schema("ts").dataType match {
          case TimestampNTZType => col("ts").cast(TimestampType)
          case _                => col("ts")
        }
        raw.withColumn("ts_ns", unix_micros(asInstant) * 1000L)
          .withColumn("ts_sec", floor(unix_micros(asInstant) / 1000000L).cast("long"))
          .drop("ts")
    }
  }
}
