package graft.sources

import graft.{SparkSpecBase, Tables}
import graft.operators.{KMeans, LexIndex, UnigramLm, VecIndex}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.{NanoTime, SimpleGroupFactory}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parity of [[DriverParquet]] with Spark's own parquet reader: the
  * same schema and the same rows for every input shape the engine
  * reads, and the same errors where Spark's inference finds nothing. */
class DriverParquetSpec extends SparkSpecBase {
  private val sf = "perfbench/data/sf0.01"

  private def rows(df: DataFrame): Array[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("bytes(", ",", ")")
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  /** Both readers over the same paths and options; returns the
    * driver-side frame for further checks. */
  private def assertParity(paths: Seq[String],
                           opts: Map[String, String] = Map.empty): DataFrame = {
    val spk = spark.read.options(opts).parquet(paths: _*)
    val drv = DriverParquet.read(spark).options(opts).load(paths: _*)
    assert(drv.schema == spk.schema, s"schema differs on ${paths.head}")
    val (d, s) = (rows(drv), rows(spk))
    assert(d.nonEmpty && d.sameElements(s), s"rows differ on ${paths.head}")
    drv
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("the sf0.01 tables read with Spark's schema and rows") {
    Tables.names.foreach(n => assertParity(Seq(s"$sf/$n.parquet")))
    // non-Spark-written strings and the NTZ timestamp resolve as Spark's
    val ev = DriverParquet.read(spark).load(s"$sf/events.parquet").schema
    assert(ev("event_type").dataType == StringType)
    assert(ev("ts").dataType == TimestampNTZType)
  }

  test("the scan is still Spark's parquet file scan") {
    val df = DriverParquet.read(spark).load(s"$sf/region.parquet")
    val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1)
    assert(scans.head.relation.fileFormat.isInstanceOf[ParquetFileFormat])
    assert(scans.head.relation.toString == "parquet")
    assert(df.queryExecution.executedPlan.toString.contains("FileScan parquet"))
  }

  test("footer types decode under every converter flag as Spark's task decodes them") {
    val dir = tempDir("driver-parquet-footer")
    val file = new Path(s"$dir/part-00000.parquet")
    val schema = MessageTypeParser.parseMessageType(
      """message m {
        |  required int64 id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 ts_utc (TIMESTAMP(NANOS,true));
        |  optional int64 ts_us (TIMESTAMP(MICROS,false));
        |  optional int96 legacy_ts;
        |  optional binary s (STRING);
        |  optional binary raw;
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(file).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    val g = new SimpleGroupFactory(schema)
    try (0 until 5).foreach { i =>
      w.write(g.newGroup().append("id", i.toLong)
        .append("ts", 1700000000123456789L + i)
        .append("ts_utc", 1700000000123456789L - i)
        .append("ts_us", 1700000000123456L + i)
        .append("legacy_ts", new NanoTime(2460000 + i, 1000L * i).toBinary)
        .append("s", s"str$i")
        .append("raw", s"raw$i"))
    } finally w.close()

    // nanosAsLong is the session default; without it neither reader
    // accepts TIMESTAMP(NANOS)
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    for {
      binaryAsString <- Seq("false", "true")
      ntz <- Seq("false", "true")
    } withConf("spark.sql.parquet.binaryAsString" -> binaryAsString,
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> ntz) {
      val s = assertParity(Seq(dir)).schema
      assert(s("ts").dataType == LongType)
      assert(s("legacy_ts").dataType == TimestampType)
      assert(s("raw").dataType ==
        (if (binaryAsString == "true") StringType else BinaryType))
      assert(s("ts_us").dataType ==
        (if (ntz == "true") TimestampNTZType else TimestampType))
    }
    // INT96 not read as a timestamp is refused by both, at schema time
    withConf("spark.sql.parquet.int96AsTimestamp" -> "false") {
      val spk = intercept[AnalysisException](spark.read.parquet(dir))
      val drv = intercept[AnalysisException](DriverParquet.read(spark).load(dir))
      assert(drv.getMessage == spk.getMessage)
    }
  }

  test("a flat Spark-written table") {
    val dir = tempDir("driver-parquet-flat")
    spark.range(0, 200, 1, 3)
      .select(col("id"), (col("id") % 7).cast("int").as("i"),
        (col("id") / 3.0).as("d"), col("id").cast("decimal(12,2)").as("dec"),
        concat(lit("t"), col("id")).as("s"),
        array(col("id").cast("float"), lit(1.5f)).as("vec"),
        struct(col("id").as("a"), lit("b").as("b")).as("st"),
        map(lit("k"), col("id")).as("m"))
      .write.mode("overwrite").parquet(s"$dir/t")
    assertParity(Seq(s"$dir/t"))
  }

  test("a partitioned table through basePath, whole and by leaf list") {
    val dir = tempDir("driver-parquet-part")
    spark.range(0, 120, 1, 2)
      .select(col("id"), (col("id") % 3).as("p"), (col("id") % 2).as("q"),
        concat(lit("v"), col("id")).as("v"))
      .write.mode("overwrite").partitionBy("p", "q").parquet(s"$dir/t")
    assertParity(Seq(s"$dir/t"))
    val leafs = Seq(s"$dir/t/p=2/q=0", s"$dir/t/p=0/q=1")
    val df = assertParity(leafs, Map("basePath" -> s"$dir/t"))
    assert(df.columns.toSeq == Seq("id", "v", "p", "q"))
    assert(df.select("p").distinct().count() == 2L)
  }

  test("store leaf lists: cells across versions and manifest-resolved buckets") {
    val emb = DriverParquet.read(spark).load(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 400)
    val vec = tempDir("driver-parquet-vec")
    val cents = KMeans.lloyd(emb, "vec_id", "embedding", k = 4, iters = 1)
    VecIndex.build(emb, "vec_id", "embedding", cents, vec)
    VecIndex.build(emb, "vec_id", "embedding", cents, vec)
    def cids(v: Int): Seq[String] =
      new java.io.File(s"$vec/cells/v=$v").listFiles().map(_.getName)
        .filter(_.startsWith("cid=")).sorted.toSeq
    // the ownership-resolved shape: some cells owned by v=1, the rest by v=2
    val (old, cur) = cids(2).splitAt(cids(2).size / 2)
    assert(old.nonEmpty && cur.nonEmpty)
    val cells = old.map(c => s"$vec/cells/v=1/$c") ++ cur.map(c => s"$vec/cells/v=2/$c")
    val c = assertParity(cells, Map("basePath" -> s"$vec/cells"))
    assert(c.select("v").distinct().count() == 2L)

    val docs = DriverParquet.read(spark).load(s"$sf/documents.parquet")
    val lex = tempDir("driver-parquet-lex")
    LexIndex.build(UnigramLm.termFreq(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text"), lex)
    // a two-term document rewrites at most two buckets at v=2
    LexIndex.merge(spark, lex, UnigramLm.termFreq(
      spark.range(1).select(lit(1L << 40).as("doc_id"), lit("zebra quagga").as("text")),
      "doc_id", "text"))
    // each bucket at the newest version holding it — what the manifest names
    val buckets = new java.io.File(s"$lex/buckets").listFiles()
      .filter(_.getName.startsWith("v=")).toSeq
      .flatMap(v => v.listFiles().filter(_.getName.startsWith("tb=")).map(b =>
        b.getName -> (v.getName.stripPrefix("v=").toLong, b.toString)))
      .groupMapReduce(_._1)(_._2)((a, b) => if (a._1 >= b._1) a else b)
      .values.toSeq.sortBy(_._2)
    assert(buckets.map(_._1).distinct.size == 2, "merge left every bucket at one version")
    assertParity(buckets.map(_._2), Map("basePath" -> s"$lex/buckets"))
  }

  test("empty, _SUCCESS-only and missing directories fail as Spark's reader does") {
    val dir = tempDir("driver-parquet-empty")
    new java.io.File(s"$dir/empty").mkdirs()
    new java.io.File(s"$dir/success").mkdirs()
    new java.io.File(s"$dir/success/_SUCCESS").createNewFile()
    Seq("empty", "success", "missing").foreach { d =>
      val p = s"$dir/$d"
      val spk = intercept[AnalysisException](spark.read.parquet(p))
      val drv = intercept[AnalysisException](DriverParquet.read(spark).load(p))
      assert(drv.getCondition == spk.getCondition, s"$d: ${drv.getCondition}")
    }
    assert(intercept[AnalysisException](DriverParquet.read(spark).load(s"$dir/empty"))
      .getCondition == "UNABLE_TO_INFER_SCHEMA")
  }

  test("mergeSchema reads Spark's merged schema") {
    val dir = tempDir("driver-parquet-merge")
    spark.range(0, 10).select(col("id"), lit("x").as("b"))
      .write.parquet(s"$dir/t/p=1")
    spark.range(10, 20).select(col("id"), lit(2.5).as("c"))
      .write.parquet(s"$dir/t/p=2")
    val merged = assertParity(Seq(s"$dir/t"), Map("mergeSchema" -> "true"))
    assert(merged.columns.toSeq == Seq("id", "b", "c", "p"))
    // without it both readers take the first data file's schema
    assertParity(Seq(s"$dir/t"))
  }
}
