package graft.pipelines

import graft.SparkSpecBase
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The packaged streaming day ([[DailyDriver.stepStream]] +
  * [[DailyDriver.stepStreamReconcile]]): a stream-fed day must equal
  * the batch [[DailyDriver.step]] on the same arrivals across every
  * store — including a mid-day checkpoint restart (exactly-once) —
  * and a concurrent [[DailyDriver.maintain]] must fence the live
  * index streams loudly instead of letting them interleave. */
class DailyDriverStreamSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"
  private val cfg = Curation.Config(minQuality = 2.95)

  private def canon(df: DataFrame): Array[String] =
    df.collect().map(_.toString).sorted

  private def ts(i: Int) = new Timestamp(1000L * (100 + i))

  test("stream-fed day (with a mid-day restart) equals the batch step on every store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val a = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")

    // ---- reference: the batch day
    val dirA = tempDir("daily-stream-batch")
    DailyDriver.init(spark, a, bench, dirA, cfg, Some(emb))
    DailyDriver.step(spark, delta, bench, dirA, cfg, Some(emb))

    // ---- the streamed day: same init, arrivals in micro-batches with
    // a full stop/restart between the halves (checkpoint recovery)
    val dirB = tempDir("daily-stream-live")
    DailyDriver.init(spark, a, bench, dirB, cfg, Some(emb))
    val ckpt = tempDir("daily-stream-ckpt")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, Long, String)]
    def arrivals = input.toDF().toDF("event_time", "doc_id", "text")
    val rows = delta.as[(Long, String)].collect().sortBy(_._1)
    val (h1, h2) = rows.splitAt(rows.length / 2)

    val s1 = DailyDriver.stepStream(spark, arrivals, bench, dirB, ckpt,
      cfg, Some(emb))
    input.addData(h1.zipWithIndex.map { case ((id, t), i) => (ts(i), id, t) })
    s1.all.foreach(_.processAllAvailable())
    s1.stopAll()
    // restart from the same checkpoints — committed batches must not
    // re-land, uncommitted ones must
    val s2 = DailyDriver.stepStream(spark, arrivals, bench, dirB, ckpt,
      cfg, Some(emb))
    input.addData(h2.zipWithIndex.map { case ((id, t), i) =>
      (ts(1000 + i), id, t)
    })
    s2.all.foreach(_.processAllAvailable())
    s2.stopAll()
    val dec = DailyDriver.stepStreamReconcile(spark, bench, dirB, cfg,
      Some(emb))
    assert(dec.count() > 0)

    // every store equals the batch day's
    assert(canon(DailyDriver.openDecisions(spark, dirB)).sameElements(
      canon(DailyDriver.openDecisions(spark, dirA))),
      "streamed decisions diverged from the batch step")
    assert(canon(DailyDriver.openSigIndex(spark, dirB)
      .select(col("doc_id"))).sameElements(
      canon(DailyDriver.openSigIndex(spark, dirA).select(col("doc_id")))),
      "streamed signature index diverged")
    assert(canon(DailyDriver.openFingerprints(spark, dirB)).sameElements(
      canon(DailyDriver.openFingerprints(spark, dirA))),
      "streamed fingerprint store diverged")
    def postings(d: String) = graft.operators.LexIndex
      .openPostings(spark, s"$d/lex_index").collect().map(_.toString).sorted
    assert(postings(dirB).sameElements(postings(dirA)),
      "streamed lexical index diverged (double merge or lost batch)")
    def vecRows(d: String) = DailyDriver.openVecIndex(spark, d)
      .select(col("doc_id"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(vecRows(dirB).sameElements(vecRows(dirA)),
      "streamed vector index diverged")
    def pqRows(d: String) = graft.operators.PqIndex
      .open(spark, DailyDriver.pqIndexDir(d))
      .select(col("doc_id"), col("cid"), col("codes")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).sortBy(_._1)
    assert(pqRows(dirB).sameElements(pqRows(dirA)),
      "streamed PQ code table diverged")
    // staging cleared; a second reconcile refuses (already reconciled)
    val e = intercept[IllegalArgumentException](
      DailyDriver.stepStreamReconcile(spark, bench, dirB, cfg, Some(emb)))
    assert(e.getMessage.contains("reconciled") ||
      e.getMessage.contains("never ran"), e.getMessage)
    // ... and the day is searchable end to end
    val qs = docs.filter(col("doc_id") % 29 === 0 && col("doc_id") < 300)
      .select(col("doc_id").as("q_id"), col("text"))
    val ps = emb.join(qs.select(col("q_id").as("doc_id")), Seq("doc_id"))
      .select(col("doc_id").as("q_id"), col("embedding"))
    assert(DailyDriver.hybridSearch(spark, dirB, qs, ps).count() > 0)
  }

  test("a fresh-checkpoint restart with re-delivery neither loses nor duplicates staged arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")

    // reference: the batch day over the full delta
    val dirA = tempDir("daily-redeliver-batch")
    DailyDriver.init(spark, a, bench, dirA, cfg)
    DailyDriver.step(spark, delta, bench, dirA, cfg)

    // streamed: lineage 1 lands batches A,B; the operator then restarts
    // with a FRESH checkpoint (the documented recovery posture) against
    // an at-least-once source that re-delivers B before C. A bare
    // mb=batchId would have the new lineage's first batch OVERWRITE
    // A's staged partition (silent loss); the staged-max offset makes
    // B a duplicate partition instead, converged by reconcile's dedup.
    val dirB = tempDir("daily-redeliver-live")
    DailyDriver.init(spark, a, bench, dirB, cfg)
    val rows = delta.as[(Long, String)].collect().sortBy(_._1)
    val third = rows.length / 3
    val (ba, rest) = rows.splitAt(third)
    val (bb, bc) = rest.splitAt(third)
    val input1 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, Long, String)]
    val s1 = DailyDriver.stepStream(spark,
      input1.toDF().toDF("event_time", "doc_id", "text"), bench, dirB,
      tempDir("daily-redeliver-ckpt1"), cfg)
    for ((g, gi) <- Seq(ba, bb).zipWithIndex) {
      input1.addData(g.zipWithIndex.map { case ((id, t), i) =>
        (ts(gi * 500 + i), id, t)
      })
      s1.all.foreach(_.processAllAvailable())
    }
    s1.stopAll()
    val input2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, Long, String)]
    val s2 = DailyDriver.stepStream(spark,
      input2.toDF().toDF("event_time", "doc_id", "text"), bench, dirB,
      tempDir("daily-redeliver-ckpt2"), cfg)
    for ((g, gi) <- Seq(bb, bc).zipWithIndex) { // bb RE-DELIVERED whole
      input2.addData(g.zipWithIndex.map { case ((id, t), i) =>
        (ts(2000 + gi * 500 + i), id, t)
      })
      s2.all.foreach(_.processAllAvailable())
    }
    s2.stopAll()
    DailyDriver.stepStreamReconcile(spark, bench, dirB, cfg)

    assert(canon(DailyDriver.openDecisions(spark, dirB)).sameElements(
      canon(DailyDriver.openDecisions(spark, dirA))),
      "re-delivered streamed day diverged from the batch step — a " +
        "staged partition was lost or a duplicate survived the dedup")
    assert(canon(DailyDriver.openFingerprints(spark, dirB)).sameElements(
      canon(DailyDriver.openFingerprints(spark, dirA))),
      "fingerprints diverged across the fresh-checkpoint re-delivery")
    def postings(d: String) = graft.operators.LexIndex
      .openPostings(spark, s"$d/lex_index").collect().map(_.toString).sorted
    assert(postings(dirB).sameElements(postings(dirA)),
      "re-delivered whole batch double-merged the lexical index")
  }

  test("a PARTIALLY streamed day reconciles to the full batch step (census + remainder appends)") {
    // the crash shape the census must handle: half the day streamed
    // (staging + all three index appends landed per batch), then the
    // stream died and the rest of the day reached staging WITHOUT its
    // index appends (a crash lands staging first — the body's write
    // order). The old all-or-nothing probes would see "some ids landed"
    // and skip the index halves entirely, silently dropping the tail
    // from the indexes; the census + remainder appends must land
    // exactly the unlanded part, making the day ≡ the batch step.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val a = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")

    val dirA = tempDir("daily-partial-batch")
    DailyDriver.init(spark, a, bench, dirA, cfg, Some(emb))
    DailyDriver.step(spark, delta, bench, dirA, cfg, Some(emb))

    val dirB = tempDir("daily-partial-live")
    DailyDriver.init(spark, a, bench, dirB, cfg, Some(emb))
    val rows = delta.as[(Long, String)].collect().sortBy(_._1)
    val (h1, h2) = rows.splitAt(rows.length / 2)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, Long, String)]
    val s = DailyDriver.stepStream(spark,
      input.toDF().toDF("event_time", "doc_id", "text"), bench, dirB,
      tempDir("daily-partial-ckpt"), cfg, Some(emb))
    input.addData(h1.zipWithIndex.map { case ((id, t), i) => (ts(i), id, t) })
    s.all.foreach(_.processAllAvailable())
    s.stopAll()
    // intra-day visibility: the streamed half sits on the lex delta
    // side and the composed search serves it BEFORE any reconcile
    assert(graft.operators.LexIndex.openDelta(spark, s"$dirB/lex_index")
      .exists(d => !d.isEmpty),
      "streamed batches did not land on the lex delta side")
    val qsMid = docs.filter(col("doc_id") % 29 === 0 && col("doc_id") < 300)
      .select(col("doc_id").as("q_id"), col("text"))
    val psMid = emb.join(qsMid.select(col("q_id").as("doc_id")), Seq("doc_id"))
      .select(col("doc_id").as("q_id"), col("embedding"))
    assert(DailyDriver.hybridSearch(spark, dirB, qsMid, psMid).count() > 0,
      "mid-day hybrid search over bulk+delta returned nothing")
    // the tail reached staging but none of the index appends — the
    // exact on-disk state after a crash inside the micro-batch body
    h2.toSeq.toDF("doc_id", "text")
      .withColumn("mb", lit(9999L))
      .write.partitionBy("mb").mode("append").parquet(s"$dirB/staging")
    DailyDriver.stepStreamReconcile(spark, bench, dirB, cfg, Some(emb))

    assert(canon(DailyDriver.openDecisions(spark, dirB)).sameElements(
      canon(DailyDriver.openDecisions(spark, dirA))),
      "partial-stream decisions diverged from the batch step")
    def postings(d: String) = graft.operators.LexIndex
      .openPostings(spark, s"$d/lex_index").collect().map(_.toString).sorted
    assert(postings(dirB).sameElements(postings(dirA)),
      "partial-stream lexical index diverged — the remainder merge " +
        "missed the unlanded tail or double-merged the landed half")
    def vecRowsP(d: String) = DailyDriver.openVecIndex(spark, d)
      .select(col("doc_id"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(vecRowsP(dirB).sameElements(vecRowsP(dirA)),
      "partial-stream vector index diverged")
    def pqRowsP(d: String) = graft.operators.PqIndex
      .open(spark, DailyDriver.pqIndexDir(d))
      .select(col("doc_id"), col("cid"), col("codes")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).sortBy(_._1)
    assert(pqRowsP(dirB).sameElements(pqRowsP(dirA)),
      "partial-stream PQ code table diverged")
    assert(canon(DailyDriver.openSigIndex(spark, dirB)
      .select(col("doc_id"))).sameElements(
      canon(DailyDriver.openSigIndex(spark, dirA).select(col("doc_id")))),
      "partial-stream signature index diverged")
  }

  test("the day AFTER a streamed day runs as a plain batch step (lineage handed back)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val a = docs.filter(col("doc_id") % 4 === 1)
    val day1 = docs.filter(col("doc_id") % 4 === 2)
    val day2 = docs.filter(col("doc_id") % 4 === 3)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")

    // reference: two batch days
    val dirA = tempDir("stream-next-batch")
    DailyDriver.init(spark, a, bench, dirA, cfg, Some(emb))
    DailyDriver.step(spark, day1, bench, dirA, cfg, Some(emb))
    DailyDriver.step(spark, day2, bench, dirA, cfg, Some(emb))

    // day 1 streamed, day 2 batch — the aging-run shape: without the
    // reconcile's adoptStreamDelta handback, day 2's vec/pq appends
    // refuse the stream-governed epoch
    val dirB = tempDir("stream-next-live")
    DailyDriver.init(spark, a, bench, dirB, cfg, Some(emb))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, Long, String)]
    val s = DailyDriver.stepStream(spark,
      input.toDF().toDF("event_time", "doc_id", "text"), bench, dirB,
      tempDir("stream-next-ckpt"), cfg, Some(emb))
    input.addData(day1.as[(Long, String)].collect().sortBy(_._1)
      .zipWithIndex.map { case ((id, t), i) => (ts(i), id, t) })
    s.all.foreach(_.processAllAvailable())
    s.stopAll()
    DailyDriver.stepStreamReconcile(spark, bench, dirB, cfg, Some(emb))
    DailyDriver.step(spark, day2, bench, dirB, cfg, Some(emb)) // must not refuse

    assert(canon(DailyDriver.openDecisions(spark, dirB)).sameElements(
      canon(DailyDriver.openDecisions(spark, dirA))),
      "stream-then-batch decisions diverged from two batch days")
    def vecRows2(d: String) = DailyDriver.openVecIndex(spark, d)
      .select(col("doc_id"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(vecRows2(dirB).sameElements(vecRows2(dirA)),
      "vector index diverged across the stream-then-batch boundary")
    def pqRows2(d: String) = graft.operators.PqIndex
      .open(spark, DailyDriver.pqIndexDir(d))
      .select(col("doc_id"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(pqRows2(dirB).sameElements(pqRows2(dirA)),
      "PQ code table diverged across the stream-then-batch boundary")
  }

  test("a concurrent maintain fences the live index streams loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val a = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
      .as[(Long, String)].collect().sortBy(_._1)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    val dir = tempDir("daily-stream-fence")
    DailyDriver.init(spark, a, bench, dir, cfg, Some(emb))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, Long, String)]
    val s = DailyDriver.stepStream(spark,
      input.toDF().toDF("event_time", "doc_id", "text"), bench, dir,
      tempDir("daily-stream-fence-ckpt"), cfg, Some(emb))
    try {
      val (h1, h2) = delta.splitAt(delta.length / 2)
      input.addData(h1.zipWithIndex.map { case ((id, t), i) => (ts(i), id, t) })
      s.all.foreach(_.processAllAvailable())
      // the maintenance pass folds the streamed vec/pq deltas — epoch
      // bump; the streams' pinned epoch is retired mid-flight
      DailyDriver.maintain(spark, dir, vecDeltaShare = 0.0,
        vecGcGraceMs = 0L, embeddings = Some(emb))
      input.addData(h2.zipWithIndex.map { case ((id, t), i) =>
        (ts(1000 + i), id, t)
      })
      val fenced = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        s.all.foreach(_.processAllAvailable())
        throw new IllegalStateException(
          "no fence fired — a stream appended into a retired epoch")
      }
      assert(fenced.getMessage.toLowerCase.contains("epoch") ||
        Option(fenced.getCause).exists(_.getMessage.toLowerCase.contains("epoch")),
        s"fence did not name the epoch: ${fenced.getMessage}")
    } finally s.stopAll()
  }

  test("a debt-gated lex fold mid-stream keeps the day exact; a folded lineage refuses a new stream start until reconciled") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")

    val dirA = tempDir("daily-fold-batch")
    DailyDriver.init(spark, a, bench, dirA, cfg)
    DailyDriver.step(spark, delta, bench, dirA, cfg)

    // streamed day, debt gate forced down to 1 batch dir: every trigger
    // past the first folds the delta-so-far into the bulk mid-stream
    val dirB = tempDir("daily-fold-live")
    DailyDriver.init(spark, a, bench, dirB, cfg)
    val rows = delta.as[(Long, String)].collect().sortBy(_._1)
    val third = rows.length / 3
    val (c1, rest) = rows.splitAt(third)
    val (c2, c3) = rest.splitAt(third)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, Long, String)]
    val ckpt1 = tempDir("daily-fold-ckpt1")
    val s = DailyDriver.stepStream(spark,
      input.toDF().toDF("event_time", "doc_id", "text"), bench, dirB,
      ckpt1, cfg, lexMaxDeltaBatches = 1)
    for ((g, gi) <- Seq(c1, c2).zipWithIndex) {
      input.addData(g.zipWithIndex.map { case ((id, t), i) =>
        (ts(gi * 500 + i), id, t)
      })
      s.all.foreach(_.processAllAvailable())
    }
    s.stopAll()
    val lexPath = s"$dirB/lex_index"
    assert(graft.operators.LexIndex.hasLiveFoldMarker(spark, lexPath),
      "the forced debt gate never folded")
    assert(graft.operators.LexIndex.deltaBatchPaths(spark, lexPath).size <= 1,
      "the fold did not bound the live lineage")

    // resuming the SAME checkpoint after a fold is allowed — committed
    // batches are not re-delivered, so nothing can double-count
    val sResume = DailyDriver.stepStream(spark,
      input.toDF().toDF("event_time", "doc_id", "text"), bench, dirB,
      ckpt1, cfg, lexMaxDeltaBatches = 1)
    input.addData(c3.zipWithIndex.map { case ((id, t), i) =>
      (ts(1500 + i), id, t)
    })
    sResume.all.foreach(_.processAllAvailable())
    sResume.stopAll()

    // the folded lineage refuses a NEW stream start (a re-delivering
    // fresh-checkpoint lineage would land folded docs on the delta side
    // again — double-counted against the bulk)
    val input2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, Long, String)]
    val refused = intercept[IllegalArgumentException](
      DailyDriver.stepStream(spark,
        input2.toDF().toDF("event_time", "doc_id", "text"), bench, dirB,
        tempDir("daily-fold-ckpt2"), cfg, lexMaxDeltaBatches = 1))
    assert(refused.getMessage.contains("fold"), refused.getMessage)

    // the reconcile lands the remainder exactly (the docmap probe skips
    // the folded docs) and the day equals the batch step
    DailyDriver.stepStreamReconcile(spark, bench, dirB, cfg)
    assert(canon(DailyDriver.openDecisions(spark, dirB)).sameElements(
      canon(DailyDriver.openDecisions(spark, dirA))),
      "folded streamed day's decisions diverged from the batch step")
    def postings(d: String) = graft.operators.LexIndex
      .openPostings(spark, s"$d/lex_index").collect().map(_.toString).sorted
    assert(postings(dirB).sameElements(postings(dirA)),
      "folded streamed day's postings diverged — a fold double-merged " +
        "or the reconcile re-merged folded docs")

    // ...and once reconciled, a new day's stream starts normally
    val s3 = DailyDriver.stepStream(spark,
      input2.toDF().toDF("event_time", "doc_id", "text"), bench, dirB,
      tempDir("daily-fold-ckpt3"), cfg)
    s3.stopAll()
  }

  test("a SECOND unreconciled streamed day piles onto the lineage and one reconcile lands both (no fold)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val a = docs.filter(col("doc_id") % 4 === 1)
    val day1 = docs.filter(col("doc_id") % 4 === 2)
    val day2 = docs.filter(col("doc_id") % 4 === 3)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")

    // reference: ONE batch step over both days' arrivals (one reconcile
    // = one step over everything staged)
    val dirA = tempDir("daily-pile-batch")
    DailyDriver.init(spark, a, bench, dirA, cfg)
    DailyDriver.step(spark, day1.unionByName(day2), bench, dirA, cfg)

    val dirB = tempDir("daily-pile-live")
    DailyDriver.init(spark, a, bench, dirB, cfg)
    def streamDay(day: DataFrame, ckpt: String, t0: Int): Unit = {
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Timestamp, Long, String)]
      val s = DailyDriver.stepStream(spark,
        input.toDF().toDF("event_time", "doc_id", "text"), bench, dirB,
        tempDir(ckpt), cfg)
      input.addData(day.as[(Long, String)].collect().sortBy(_._1)
        .zipWithIndex.map { case ((id, t), i) => (ts(t0 + i), id, t) })
      s.all.foreach(_.processAllAvailable())
      s.stopAll()
    }
    streamDay(day1, "daily-pile-ckpt1", 0)
    // day 2 starts on the UNRECONCILED lineage — supported while no
    // fold ran: ids are day-disjoint, delta batch keys offset past day
    // 1's, and the debt gate bounds what the pile-up costs
    streamDay(day2, "daily-pile-ckpt2", 5000)
    DailyDriver.stepStreamReconcile(spark, bench, dirB, cfg)

    assert(canon(DailyDriver.openDecisions(spark, dirB)).sameElements(
      canon(DailyDriver.openDecisions(spark, dirA))),
      "two piled streamed days + one reconcile diverged from the batch step")
    def postings(d: String) = graft.operators.LexIndex
      .openPostings(spark, s"$d/lex_index").collect().map(_.toString).sorted
    assert(postings(dirB).sameElements(postings(dirA)),
      "piled-lineage postings diverged from the batch step")
  }
}
