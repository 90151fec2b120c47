package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The lexical index's STREAM DELTA side: per-trigger `b=` appends are
  * O(batch) (the old per-trigger merge rewrote every touched bucket —
  * the whole postings index at any real batch size), and a pinned
  * search over bulk + delta must be VALUE-EQUAL to searching the merged
  * index — df composed per term, stats composed through the build's
  * exact integer arithmetic, candidate rows unioned. Re-delivered
  * batches (the fresh-checkpoint lineage shape) converge by the
  * lowest-batch read dedup; the day-end fold (merge + clear) lands the
  * same rows the delta served. */
class LexIndexDeltaSpec extends SparkSpecBase {

  private def docsAt(d: String): DataFrame =
    spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("text"))

  private def searchRows(p: String, qterms: DataFrame): Array[String] =
    LexIndex.pinned(spark, p).search(qterms, 5)
      .select(col("q_id"), col("rk"), col("doc_id"), col("n_hit"),
        round(col("bm25_s"), 9).as("s"))
      .collect().map(_.toString).sorted

  private def statsRowOf(p: String): String =
    LexIndex.pinned(spark, p).stats.collect().map(_.toString).mkString

  test("delta-composed search/df/stats equal the merged index; fold converges; delete refuses a live delta") {
    val docs = docsAt("/root/testdata/sf0.001")
    val a = docs.filter(col("doc_id") % 3 =!= 0)
    val b1 = docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 =!= 0)
    val live = tempDir("lexdelta_live")
    val full = tempDir("lexdelta_full")
    LexIndex.build(UnigramLm.termFreq(a, "doc_id", "text"), live)
    LexIndex.build(
      UnigramLm.termFreq(docs, "doc_id", "text"), full)

    // two micro-batches land on the delta side — O(batch) writes only,
    // fenced on the lineage generation pinned at stream start
    val gen = LexIndex.deltaGen(spark, live)
    assert(LexIndex.deltaBatchBase(spark, live) == 0L)
    LexIndex.appendStreamDeltaBatch(spark, live, b1, 0L, gen)
    LexIndex.appendStreamDeltaBatch(spark, live, b2, 1L, gen)
    assert(LexIndex.deltaBatchBase(spark, live) == 2L,
      "delta batch keys must offset past the present lineage")

    // query terms drawn from both the old corpus and the delta docs
    val qdocs = docs.filter(col("doc_id") % 40 === 0)
    val qterms = qdocs.select(col("doc_id").as("q_id"),
      explode(array_distinct(
        graft.functions.TextFunctions.tokens(col("text")))).as("term"))
      .filter(length(col("term")) >= 4)
      .localCheckpoint(true)

    assert(statsRowOf(live) == statsRowOf(full),
      "composed stats diverge from the merged index's")
    val dfLive = LexIndex.pinned(spark, live).termDf(qterms.select("term"))
      .collect().map(_.toString).sorted
    val dfFull = LexIndex.pinned(spark, full).termDf(qterms.select("term"))
      .collect().map(_.toString).sorted
    assert(dfLive.sameElements(dfFull),
      "composed df diverges from the merged index's")
    val got = searchRows(live, qterms)
    val want = searchRows(full, qterms)
    assert(got.nonEmpty && got.sameElements(want),
      "delta-composed search diverges from the merged index")

    // a RE-DELIVERED batch in a new checkpoint lineage (numbering past
    // the present max — the staging convention; same generation: no
    // reconcile intervened) is converged by the read dedup, not
    // double-counted
    LexIndex.appendStreamDeltaBatch(spark, live, b1,
      LexIndex.deltaBatchBase(spark, live), gen)
    assert(searchRows(live, qterms).sameElements(want),
      "re-delivered delta batch double-counted in search")
    assert(statsRowOf(live) == statsRowOf(full),
      "re-delivered delta batch double-counted in stats")

    // mutations that cannot see the delta refuse it loudly
    import spark.implicits._
    val err = intercept[IllegalArgumentException](
      LexIndex.delete(spark, live, Seq(0L).toDF("doc_id")))
    assert(err.getMessage.contains("delta"), err.getMessage)

    // the day-end fold: RETIRE the delta (generation bump), land the
    // day through ONE ordinary merge — the postings now equal the
    // merged build and the search stays value-equal
    LexIndex.clearStreamDelta(spark, live)
    // ZOMBIE FENCE: a late micro-batch from the retired lineage must
    // fail loudly, not land rows the composed search would
    // double-count against the folded bulk
    val zombie = intercept[IllegalStateException](
      LexIndex.appendStreamDeltaBatch(spark, live, b1, 99L, gen))
    assert(zombie.getMessage.contains("retired"), zombie.getMessage)
    LexIndex.merge(spark, live,
      UnigramLm.termFreq(b1.unionByName(b2), "doc_id", "text"))
    def postings(p: String) = LexIndex.openPostings(spark, p)
      .collect().map(_.toString).sorted
    assert(postings(live).sameElements(postings(full)),
      "post-fold postings diverge from the merged build")
    assert(searchRows(live, qterms).sameElements(want),
      "post-fold search diverged")

    // the retired generation's physical files (kept through the fold
    // for reader grace) are swept by the next zero-grace gc — a store
    // whose streaming stopped does not carry a day's delta forever
    LexIndex.gc(spark, live, 0L)
    val gDirs = Option(new java.io.File(s"$live/delta").listFiles)
      .map(_.map(_.getName).filter(_.startsWith("g=")).toSeq)
      .getOrElse(Seq.empty)
    assert(gDirs.isEmpty, s"retired delta generations survived gc: $gDirs")
  }

  test("debt-gated mid-stream fold: fires, bounds the lineage, stays value-equal, and gates the next stream start") {
    val docs = docsAt("/root/testdata/sf0.001")
    val a = docs.filter(col("doc_id") % 3 =!= 0)
    val d = docs.filter(col("doc_id") % 3 === 0)
    val b = Array.tabulate(4)(i => d.filter(col("doc_id") % 4 === i))
    val live = tempDir("lexfold_live")
    val full = tempDir("lexfold_full")
    LexIndex.build(UnigramLm.termFreq(a, "doc_id", "text"), live)
    LexIndex.build(UnigramLm.termFreq(docs, "doc_id", "text"), full)

    // an N-day unreconciled lineage, debt-gated at 2 batch dirs: every
    // third append folds the delta-so-far through one merge and opens a
    // fresh generation — the b= dir count stays bounded forever
    val gen0 = LexIndex.deltaGen(spark, live)
    var g = gen0
    for (i <- b.indices)
      g = LexIndex.appendStreamDeltaBatch(spark, live, b(i), i.toLong, g,
        maxDeltaBatches = 2)
    assert(g > gen0, "the debt gate never folded")
    assert(LexIndex.deltaBatchPaths(spark, live).size <= 2,
      "fold did not bound the live lineage's batch-dir count")
    assert(LexIndex.hasLiveFoldMarker(spark, live),
      "a folded lineage must carry its fold marker")
    // the stream that performed the fold keeps appending on the
    // returned generation; its RETIRED generation is fenced
    val zombie = intercept[IllegalStateException](
      LexIndex.appendStreamDeltaBatch(spark, live, b(0), 99L, gen0))
    assert(zombie.getMessage.contains("retired"), zombie.getMessage)

    // composed search/df/stats over bulk+fold+delta stay value-equal to
    // the merged index — the fold is exact, not approximate
    val qdocs = docs.filter(col("doc_id") % 40 === 0)
    val qterms = qdocs.select(col("doc_id").as("q_id"),
      explode(array_distinct(
        graft.functions.TextFunctions.tokens(col("text")))).as("term"))
      .filter(length(col("term")) >= 4)
      .localCheckpoint(true)
    assert(statsRowOf(live) == statsRowOf(full),
      "post-fold composed stats diverge from the merged index's")
    assert(searchRows(live, qterms).sameElements(searchRows(full, qterms)),
      "post-fold composed search diverges from the merged index")

    // RE-DELIVERY across a fold (a fresh-checkpoint lineage re-sends
    // docs an earlier fold merged into the bulk): the marked lineage's
    // append docmap-filters them, so composed reads never double-count
    // — and the re-delivering append can itself trigger the NEXT fold,
    // whose merge input must stay disjoint from the bulk
    g = LexIndex.appendStreamDeltaBatch(spark, live, b(0),
      LexIndex.deltaBatchBase(spark, live), g, maxDeltaBatches = 2)
    g = LexIndex.appendStreamDeltaBatch(spark, live, b(1),
      LexIndex.deltaBatchBase(spark, live), g, maxDeltaBatches = 2)
    assert(statsRowOf(live) == statsRowOf(full),
      "re-delivered folded docs double-counted in composed stats")
    assert(searchRows(live, qterms).sameElements(searchRows(full, qterms)),
      "re-delivered folded docs double-counted in composed search")

    // the reconcile contract on a folded lineage: retire, then merge
    // exactly the docs the folds did NOT land (the docmap remainder —
    // what DailyDriver.stepStreamReconcile's probe computes)
    val remainder = d.join(
      LexIndex.presentIds(spark, live, d.select(col("doc_id"))),
      Seq("doc_id"), "left_anti")
      .localCheckpoint(true) // the probe must read the PRE-merge docmap
    LexIndex.clearStreamDelta(spark, live)
    LexIndex.merge(spark, live,
      UnigramLm.termFreq(remainder, "doc_id", "text"))
    assert(!LexIndex.hasLiveFoldMarker(spark, live),
      "the fold marker must go stale once a reconcile retires past it")
    def postings(p: String) = LexIndex.openPostings(spark, p)
      .collect().map(_.toString).sorted
    assert(postings(live).sameElements(postings(full)),
      "folded + reconciled postings diverge from the merged build")
    // gc sweeps the stale marker with the retired generations
    LexIndex.gc(spark, live, 0L)
    val leftover = Option(new java.io.File(s"$live/delta").listFiles)
      .map(_.map(_.getName).filter(_.startsWith("_folded")).toSeq)
      .getOrElse(Seq.empty)
    assert(leftover.isEmpty, s"stale fold markers survived gc: $leftover")
  }

  test("a stray non-numeric delta dir name is skipped, not a permanent gc/stream blocker") {
    val docs = docsAt("/root/testdata/sf0.001").limit(50)
    val live = tempDir("lexjunk_live")
    LexIndex.build(UnigramLm.termFreq(docs, "doc_id", "text"), live)
    val gen = LexIndex.deltaGen(spark, live)
    LexIndex.appendStreamDeltaBatch(spark, live,
      docs.limit(10), 0L, gen)
    // junk names an editor/manual copy could leave behind
    assert(new java.io.File(s"$live/delta/g=backup").mkdirs())
    assert(new java.io.File(s"$live/delta/g=$gen/b=copy").mkdirs())
    assert(LexIndex.deltaBatchBase(spark, live) == 1L,
      "non-numeric b= dir perturbed the batch-key base")
    LexIndex.clearStreamDelta(spark, live)
    LexIndex.gc(spark, live, 0L) // must not throw NumberFormatException
    assert(new java.io.File(s"$live/delta/g=backup").exists,
      "gc swept a dir it could not parse instead of skipping it")
  }

  test("a pinned view materializes its delta once — later reads survive the physical files going away") {
    val docs = docsAt("/root/testdata/sf0.001")
    val a = docs.filter(col("doc_id") % 3 =!= 0)
    val d = docs.filter(col("doc_id") % 3 === 0)
    val live = tempDir("lexpin_live")
    LexIndex.build(UnigramLm.termFreq(a, "doc_id", "text"), live)
    val gen = LexIndex.deltaGen(spark, live)
    LexIndex.appendStreamDeltaBatch(spark, live, d, 0L, gen)
    val qterms = docs.filter(col("doc_id") % 40 === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(
          graft.functions.TextFunctions.tokens(col("text")))).as("term"))
      .filter(length(col("term")) >= 4)
      .localCheckpoint(true)
    val pin = LexIndex.pinned(spark, live)
    val first = pin.search(qterms, 5).collect().map(_.toString).sorted
    // the day's dedup ran once on the first action; the delta files can
    // now vanish (a hard variant of graced retirement) and every later
    // consumer on the SAME view still reads the materialized rows
    val genDir = new java.io.File(s"$live/delta/g=$gen")
    def nuke(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(nuke)); f.delete(); ()
    }
    nuke(genDir)
    assert(!genDir.exists)
    val again = pin.search(qterms, 5).collect().map(_.toString).sorted
    assert(again.sameElements(first),
      "second search on the pinned view re-read the delta files")
    assert(pin.stats.collect().nonEmpty && pin.termDf(
      qterms.select(col("term"))).collect().nonEmpty,
      "stats/df on the pinned view re-read the delta files")
  }
}
