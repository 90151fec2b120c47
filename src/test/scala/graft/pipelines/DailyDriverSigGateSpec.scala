package graft.pipelines

import graft.SparkSpecBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** [[DailyDriver.maintain]]'s signature re-layout is POLICY-GATED on
  * measured file debt (the share of data files a re-lay would remove),
  * like every other mutation in the pass: below the threshold the
  * directory listing is the whole cost and nothing is rewritten; above
  * it the re-lay is a pure re-layout (row identity) that compacts each
  * batch partition to one file. */
class DailyDriverSigGateSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"
  private val cfg = Curation.Config(minQuality = 2.95)

  test("sig re-layout fires only past the measured file-debt threshold") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    val dir = tempDir("daily-siggate")
    DailyDriver.init(spark, a, bench, dir, cfg)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(): Set[String] = {
      def walk(p: Path): Seq[String] = fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet"))
          Seq(st.getPath.toString)
        else Seq.empty
      }
      walk(new Path(s"$dir/sig_index")).toSet
    }
    def rows(): Array[String] =
      DailyDriver.openSigIndex(spark, dir).collect().map(_.toString).sorted
    def sigStatus() = DailyDriver.status(spark, dir)
      .find(_.store == "sig_index").get

    // force one re-lay: pure re-layout (row identity), debt drops to 0
    val r0 = rows()
    val rep1 = DailyDriver.maintain(spark, dir, sigRelayShare = -1.0)
    assert(rep1.sigRelaid, s"forced re-lay did not fire: $rep1")
    assert(rows().sameElements(r0), "re-lay changed the signature rows")
    assert(sigStatus().debtShare == 0.0,
      s"one file per batch must read as zero debt: ${sigStatus()}")

    // below the threshold: LISTING-ONLY — not a single data file moves
    val f1 = files()
    val rep2 = DailyDriver.maintain(spark, dir)
    assert(!rep2.sigRelaid && rep2.sigFileDebt == 0.0,
      s"no-debt maintain fired the re-lay: $rep2")
    assert(files() == f1, "no-debt maintain rewrote signature files")

    // a day lands; debt may accumulate, but a threshold above it stays
    // listing-only, and the report's measurement matches status's
    DailyDriver.step(spark, delta, bench, dir, cfg)
    val f2 = files()
    val rep3 = DailyDriver.maintain(spark, dir, sigRelayShare = 1.0)
    assert(!rep3.sigRelaid, s"debt < 1 fired a share-1.0 gate: $rep3")
    assert(files() == f2, "below-threshold maintain rewrote signature files")
    assert(math.abs(rep3.sigFileDebt - sigStatus().debtShare) < 1e-12,
      s"report and status disagree on the debt: $rep3 vs ${sigStatus()}")

    // past the threshold: compacts to one file per batch, rows intact
    val r1 = rows()
    val rep4 = DailyDriver.maintain(spark, dir, sigRelayShare = -1.0)
    assert(rep4.sigRelaid)
    assert(rows().sameElements(r1), "re-lay changed the signature rows")
    for (st <- fs.listStatus(new Path(s"$dir/sig_index"))
         if st.isDirectory && st.getPath.getName.startsWith("batch=")) {
      val n = fs.listStatus(st.getPath)
        .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      assert(n == 1, s"${st.getPath.getName} not compacted: $n files")
    }
  }
}
