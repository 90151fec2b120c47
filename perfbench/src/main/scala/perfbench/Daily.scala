package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{LexIndex, PqIndex, VecIndex}
import graft.pipelines.{Curation, DailyDriver}

/** The DailyDriver lifecycle over `documents` joined with `embeddings`
  * (`doc_id = vec_id`): `init` on a seed-chosen 60% of the documents
  * (set-up), one day of 10% streamed through `stepStream` (one arrival
  * file per trigger) and closed by `stepStreamReconcile`, `BatchDays`
  * batch `step` days of 5% each, then `forget` of a seed-chosen
  * victim set, `maintain` and `snapshot`. After every day
  * `SearchBatches` `hybridSearch` batches of seed-chosen probe ids run
  * beside the writes.
  *
  * Outputs are checked outside the timed calls: each step's decision
  * table covers every landed document, each search returns at most
  * k rows per query, and at the end the decision table must equal
  * `Curation.curate` over the landed corpus minus the forgotten
  * documents (the N-steps ≡ full-rerun contract). */
final class Daily(ctx: Ctx) extends Workload {
  import Daily._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val rng = new scala.util.Random(ctx.seed)
  private val dir = new File(ctx.work, "driver").getAbsolutePath
  private val cfg = Curation.Config(minQuality = 2.95)

  private val docs = spark.read.parquet(s"${ctx.data}/documents.parquet")
    .select(col("doc_id"), col("text"))
  private val emb = spark.read.parquet(s"${ctx.data}/embeddings.parquet")
    .select(col("vec_id").as("doc_id"), col("embedding"))
  private val bench = docs.filter(col("doc_id") % 50 === 0)
  private val textBytes: Map[Long, Long] = docs.collect()
    .map(r => r.getLong(0) -> r.getString(1).getBytes("UTF-8").length.toLong).toMap

  // the seed-chosen days: 60% init, one 10% stream day, BatchDays × 5%
  private val ids = rng.shuffle(textBytes.keys.toVector.sorted)
  private val n = ids.length
  private val initIds = ids.take(n * 60 / 100)
  private val streamIds = ids.slice(n * 60 / 100, n * 70 / 100).sorted
  private val batchDays = (0 until BatchDays).map { d =>
    ids.slice(n * (70 + 5 * d) / 100, n * (75 + 5 * d) / 100)
  }
  private val landed = ArrayBuffer.empty[Long]

  val tally = new Measure.Tally
  private val calls = LinkedHashMap.empty[String, ArrayBuffer[Call]]
  private val steps = ArrayBuffer.empty[Double]
  private val searches = ArrayBuffer.empty[Double]
  private var ingestS = 0.0
  private var upkeepS = 0.0
  private var writtenB = 0L
  private var arrivalB = 0L
  private var spaceAmp = Double.NaN
  private val storeReads = ArrayBuffer.empty[Map[String, Double]]
  private var streamProgress = Seq.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  private def frame(ids: Seq[Long]): DataFrame =
    docs.join(broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(Row(_)), 1),
      StructType(Seq(StructField("doc_id", LongType))))), Seq("doc_id"))

  private def bytesOf(ids: Seq[Long]): Long = ids.map(textBytes).sum

  /** Runs one timed driver call; its file writes under the driver
    * directory are measured by a listing before and after it (outside
    * the timed region). The span covers the call only: the check runs
    * after it closes, so no check job counts as the call's. */
  private def call[A](name: String)(body: => A)(check: A => Boolean): Option[Double] = {
    val before = Files.listing(dir)
    val out = tally.record(name)(tracer.span(name)(body))(check)
    val span = tracer.all.filter(_.name == name).last
    val (b, f) = Files.written(before, Files.listing(dir))
    writtenB += b
    calls.getOrElseUpdate(name, ArrayBuffer.empty) += Call(span, b, f)
    out.map(_._2)
  }

  private def search(): Unit =
    for (_ <- 0 until SearchBatches) {
      val probe = rng.shuffle(landed.toVector).take(QueriesPerBatch)
      val queries = frame(probe).select(col("doc_id").as("q_id"), col("text"))
      val probes = emb.join(broadcast(queries.select(col("q_id").as("doc_id"))), Seq("doc_id"))
        .select(col("doc_id").as("q_id"), col("embedding"))
      // the hits are few: collecting them is the full materialization
      call("search") {
        DailyDriver.hybridSearch(spark, dir, queries, probes, k = K).collect()
      } { hits =>
        val perQuery = hits.groupBy(_.getAs[Any]("q_id")).values.map(_.length)
        perQuery.nonEmpty && perQuery.forall(_ <= K)
      }.foreach(searches += _)
    }

  /** Store state after a day, read outside the timed calls. */
  private def readStores(): Unit = if (tracer.enabled) {
    val listing = Files.listing(dir)
    storeReads += Map(
      "lex_delta_share" -> LexIndex.deltaShare(spark, s"$dir/lex_index"),
      "vec_delta_share" -> VecIndex.deltaShare(spark, DailyDriver.vecIndexDir(dir)),
      "pq_delta_share" -> PqIndex.deltaShare(spark, DailyDriver.pqIndexDir(dir)),
      "vec_cell_skew" -> VecIndex.cellSkew(spark, DailyDriver.vecIndexDir(dir)),
      "store_files" -> listing.size.toDouble,
      "store_mb" -> listing.values.map(_._1).sum / Tracer.Mb)
  }

  private def decisionsCover(dec: DataFrame): Boolean =
    dec.select("doc_id").distinct().count() == landed.size

  def setup(): Unit = {
    val initDf = frame(initIds)
    tracer.span("init") {
      DailyDriver.init(spark, initDf, bench, dir, cfg, Some(emb))
    }
    initWritten = Files.written(Map.empty, Files.listing(dir))
    landed ++= initIds
    readStores()
  }

  def measure(): Unit = {
    // the streamed day comes first: a stream lineage cannot replay over
    // batch-appended index deltas until they are compacted
    streamDay()
    readStores()
    search()
    batchDays.foreach { day =>
      arrivalB += bytesOf(day)
      landed ++= day
      call("step")(DailyDriver.step(spark, frame(day), bench, dir, cfg, Some(emb)))(decisionsCover)
        .foreach(steps += _)
      readStores()
      search()
    }
    val victims = rng.shuffle(landed.toVector).take(landed.size * VictimPermille / 1000)
    val live = landed.filterNot(victims.toSet)
    call("forget")(DailyDriver.forget(spark, frame(victims).select(col("doc_id")),
      frame(landed.toSeq), dir, cfg))(_.select("doc_id").distinct().count() == live.size)
    call("maintain")(DailyDriver.maintain(spark, dir))(_ => true)
    call("snapshot")(DailyDriver.snapshot(spark, dir))(_ >= 0L)
    upkeepS = Seq("forget", "maintain", "snapshot").flatMap(calls.get).flatten.map(_.span.seconds).sum
    landed --= victims
    readStores()
    spaceAmp = Files.listing(dir).values.map(_._1).sum.toDouble / bytesOf(landed.toSeq)
  }

  /** The streamed day: one parquet arrival file per trigger, written
    * before the stream starts, drained, stopped and reconciled. */
  private def streamDay(): Unit = {
    val arrivals = new File(ctx.work, "arrivals").getAbsolutePath
    val perFile = math.max(1, streamIds.length / StreamFiles)
    streamIds.grouped(perFile).zipWithIndex.foreach { case (part, i) =>
      frame(part).select(
        lit(new Timestamp(1000L * (100 + i))).as("event_time"),
        col("doc_id"), col("text"))
        .coalesce(1).write.mode("append").parquet(arrivals)
    }
    val schema = StructType(Seq(StructField("event_time", TimestampType),
      StructField("doc_id", LongType), StructField("text", StringType)))
    arrivalB += bytesOf(streamIds)
    landed ++= streamIds
    val ckpt = new File(ctx.work, "ckpt").getAbsolutePath
    call("stream") {
      val h = DailyDriver.stepStream(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(arrivals),
        bench, dir, ckpt, cfg, Some(emb))
      try h.all.foreach(_.processAllAvailable()) finally h.stopAll()
      h
    } { h => streamProgress = h.ingest.recentProgress.toSeq; true } // kept for the streaming metrics
    call("reconcile")(DailyDriver.stepStreamReconcile(spark, bench, dir, cfg, Some(emb)))(decisionsCover)
    ingestS = Seq("stream", "reconcile").flatMap(calls.get).flatten.map(_.span.seconds).sum
  }

  /** The N-steps ≡ full-rerun check, outside timing. */
  def check(): Boolean = {
    val got = DailyDriver.openDecisions(spark, dir)
    val cols = got.columns.sorted.map(col).toIndexedSeq
    def canon(df: DataFrame): Array[String] =
      df.select(cols: _*).collect().map(_.toString).sorted
    val want = Curation.curate(frame(landed.toSeq), bench, cfg)
    val same = canon(got).sameElements(canon(want))
    if (!same) tally.fail("daily: decision table differs from the full rerun")
    same
  }

  /** The battery is the timed lifecycle: the wall time of every timed
    * call, failed ones included. The queries are the search batches. */
  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("battery_s", tally.spent, "s"),
    ("query_p50_s", Measure.median(searches.toSeq), "s"))

  def layers: Seq[(String, Double, String)] = {
    val perCall = PipelineCalls.flatMap { name =>
      val cs = if (name == "init") tracer.all.filter(_.name == "init").map(Call(_, 0L, 0))
               else calls.getOrElse(name, Nil).toSeq
      def mean(f: Call => Double) = if (cs.isEmpty) 0.0 else cs.map(f).sum / cs.size
      val init = name == "init"
      Seq(
        (s"pipelines.$name.s", mean(_.span.seconds), "s"),
        (s"pipelines.$name.jobs", mean(c => tracer.total(Seq(c.span)).jobs.toDouble), "count"),
        (s"pipelines.$name.written_mb", if (init) initWritten._1 / Tracer.Mb else mean(_.bytes / Tracer.Mb), "MB"),
        (s"pipelines.$name.files_written", if (init) initWritten._2.toDouble else mean(_.files.toDouble), "count"))
    }
    def meanRead(k: String) =
      if (storeReads.isEmpty) 0.0 else storeReads.map(_(k)).sum / storeReads.size
    val lastRead = storeReads.lastOption.getOrElse(Map.empty[String, Double])
    val triggers = streamProgress.filter(_.numInputRows > 0)
    val trigS = triggers.map(p => p.durationMs.getOrDefault("triggerExecution", 0L) / 1e3)
    val streamJobs = calls.get("stream").map(cs => tracer.total(cs.map(_.span).toSeq).jobs).getOrElse(0L)
    val batchDocs = batchDays.map(_.length).sum
    perCall ++ Seq(
      ("daily.step_p50_s", Measure.median(steps.toSeq), "s"),
      ("daily.docs_per_s", (batchDocs + streamIds.length) / (steps.sum + ingestS), "docs/s"),
      ("daily.search_p50_s", Measure.median(searches.toSeq), "s"),
      ("daily.upkeep_s", upkeepS, "s"),
      ("daily.write_amp", writtenB.toDouble / arrivalB, "ratio"),
      ("daily.space_amp", spaceAmp, "ratio"),
      ("operators.lex_delta_share", meanRead("lex_delta_share"), "ratio"),
      ("operators.vec_delta_share", meanRead("vec_delta_share"), "ratio"),
      ("operators.pq_delta_share", meanRead("pq_delta_share"), "ratio"),
      ("operators.vec_cell_skew", meanRead("vec_cell_skew"), "ratio"),
      ("operators.store_files", lastRead.getOrElse("store_files", 0.0), "count"),
      ("operators.store_mb", lastRead.getOrElse("store_mb", 0.0), "MB"),
      ("streaming.triggers", triggers.size.toDouble, "count"),
      ("streaming.trigger_p50_s", if (trigS.isEmpty) 0.0 else Measure.median(trigS), "s"),
      ("streaming.jobs_per_trigger", if (triggers.isEmpty) 0.0 else streamJobs.toDouble / triggers.size, "count"),
      ("streaming.rows_per_s", triggers.map(_.numInputRows).sum / math.max(trigS.sum, 1e-9), "rows/s"))
  }

  /** The timed calls' spans (the per-layer Spark counters sum these). */
  def timedSpans: Seq[Span] = calls.values.flatten.map(_.span).toSeq

  /** init's writes: everything under the driver directory after it. */
  private var initWritten: (Long, Int) = (0L, 0)
}

object Daily {
  val BatchDays = 1
  val StreamFiles = 2
  val SearchBatches = 2
  val QueriesPerBatch = 5
  val K = 5
  val VictimPermille = 20
  val PipelineCalls = Seq("init", "step", "search", "forget", "maintain", "snapshot", "reconcile")

  final case class Call(span: Span, bytes: Long, files: Int)
}
