package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two timing rules of the harness: an operation is timed as a full
  * materialization, and an operation that throws or fails its check is
  * counted as a failure, never as a time. */
class MeasureSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]").config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  test("materialize computes every column, where count() prunes them") {
    val boom = udf((x: Long) => if (x >= 0) throw new IllegalStateException("computed") else x)
    val df = spark.range(5).select(col("id"), boom(col("id")).as("x"))
    assert(df.count() == 5L, "count() should not compute the pruned column")
    val e = intercept[Exception](Measure.materialize(df))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("computed")))
  }

  test("materialize of a good frame succeeds") {
    Measure.materialize(spark.range(100).select(col("id"), (col("id") * 2).as("y")))
  }

  test("a throwing operation is a failure with no latency sample") {
    val t = new Measure.Tally
    val got = t.record[Int]("boom") { Thread.sleep(20); throw new RuntimeException("x") }(_ => true)
    assert(got.isEmpty)
    assert(t.attempted == 1 && t.failed == 1 && t.samples.isEmpty)
    assert(t.errors.head.startsWith("boom: RuntimeException"))
    assert(t.spent >= 0.02, "a failed attempt still counts its wall time")
  }

  test("an operation whose output check fails is a failure with no sample") {
    val t = new Measure.Tally
    assert(t.record("wrong")(41)(_ == 42).isEmpty)
    assert(t.attempted == 1 && t.failed == 1 && t.samples.isEmpty)
  }

  test("a good operation yields exactly one positive sample") {
    val t = new Measure.Tally
    val got = t.record("good") { Thread.sleep(5); 42 }(_ == 42)
    assert(got.map(_._1).contains(42))
    assert(t.attempted == 1 && t.failed == 0)
    assert(t.samples.size == 1 && t.samples.head >= 0.005)
    assert(t.named == Seq("good" -> t.samples.head))
  }

  test("an operation rejected after the clock loses its sample") {
    val t = new Measure.Tally
    t.record("a")(1)(_ => true)
    t.record("b")(2)(_ => true)
    t.reject("a", "a: timed result differs from the pin")
    assert(t.attempted == 2 && t.failed == 1)
    assert(t.named.map(_._1) == Seq("b"))
  }

  test("quantiles interpolate like statistics.quantiles(method='inclusive')") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Measure.median(xs) == 2.5)
    assert(math.abs(Measure.quantile(xs, 0.8) - 3.4) < 1e-12)
    assert(Measure.median(Nil).isNaN)
  }

  test("fingerprints ignore row and column order, and see values") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val b = Seq(("y", 2L), ("x", 1L)).toDF("v", "k")
    val c = Seq((1L, "x"), (2L, "z")).toDF("k", "v")
    assert(Fingerprint.of(a) == Fingerprint.of(b))
    assert(Fingerprint.of(a) != Fingerprint.of(c))
    assert(Fingerprint.of(a).rows == 2L)
  }
}
