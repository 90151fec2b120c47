package graft.pipelines

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MULTI-step equivalence for the packaged daily driver: two
  * consecutive `step`s over a persisted layout must land on exactly
  * the decision table a full `curate` over the three-day corpus
  * produces. One step is IncrementalCurationSpec's claim; two steps
  * additionally prove the INDEX MAINTENANCE — day 2's arrivals must
  * pair against day 1's candidates through the appended signatures,
  * or components forming across the day-1/day-2 boundary are lost. */
class DailyDriverApiSpec extends SparkSpecBase {
  private val sf = "/root/testdata/sf0.001"
  private val cfg = Curation.Config(minQuality = 2.95)

  test("init + step + step equals the full rerun over the three-day corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val a = docs.filter(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2)
    val b1 = docs.filter(col("doc_id") % 4 === 3)
    val b2 = docs.filter(col("doc_id") % 4 === 0)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    val dir = tempDir("daily-driver-api")

    DailyDriver.init(spark, a, bench, dir, cfg, Some(emb))
    DailyDriver.step(spark, b1, bench, dir, cfg, Some(emb))
    val got = DailyDriver.step(spark, b2, bench, dir, cfg, Some(emb))

    val want = Curation.curate(docs, bench, cfg)
      .select(Curation.DecisionCols.map(col): _*)
    def canon(df: DataFrame): Array[String] =
      df.select(Curation.DecisionCols.map(col): _*)
        .collect().map(_.toString).sorted
    val g = canon(got)
    val w = canon(want)
    assert(g.length == w.length, s"row count ${g.length} vs ${w.length}")
    assert(g.sameElements(w), "two-step daily driver diverged from full rerun")

    // non-vacuity: a component must span the day-1/day-2 boundary —
    // the case that only works if step 2 probed step 1's appended
    // signatures
    val comp = got.filter(col("quality_pass") && col("contam_pass"))
      .select(col("doc_id"), col("component"))
    val c1 = comp.join(b1.select("doc_id"), Seq("doc_id"))
      .select(col("component")).distinct()
    val c2 = comp.join(b2.select("doc_id"), Seq("doc_id"))
      .select(col("component")).distinct()
    assert(c1.join(c2, Seq("component")).count() > 0,
      "no component spans the day-1/day-2 boundary — index-append path untested")

    // the retrieval index maintained across the two steps must equal a
    // full LexIndex.build over the three-day corpus's candidates
    import graft.operators.{LexIndex, UnigramLm}
    val allCand = docs.join(
      got.filter(col("quality_pass") && col("contam_pass")).select("doc_id"),
      Seq("doc_id"))
    val fullLex = tempDir("daily-driver-lex-full")
    LexIndex.build(UnigramLm.termFreq(allCand, "doc_id", "text"), fullLex)
    def postings(p: String): Array[String] =
      LexIndex.openPostings(spark, p)
        .select("term", "doc_id", "tf", "dl", "df", "tb")
        .collect().map(_.toString).sorted
    val (inc, full) = (postings(s"$dir/lex_index"), postings(fullLex))
    assert(inc.length == full.length,
      s"lex posting counts differ: ${inc.length} vs ${full.length}")
    assert(inc.sameElements(full),
      "stepwise lexical index diverged from the full rebuild")

    // the VECTOR index maintained across the two steps (day-0 build +
    // two delta appends) must row-equal a fresh VecIndex.build over the
    // three-day corpus's candidate embeddings with the driver's pinned
    // quantizer — the N-steps ≡ fresh-build convergence claim, vector
    // edition (the LexIndexProtocolSpec pattern)
    import graft.operators.VecIndex
    val vdir = DailyDriver.vecIndexDir(dir)
    val candEmb = emb.join(allCand.select("doc_id"), Seq("doc_id"))
    val driverCents = VecIndex.openCentroids(spark, vdir)
      .getOrElse(fail("driver vec index has no quantizer"))
    val fullVec = tempDir("daily-driver-vec-full")
    VecIndex.build(candEmb, "doc_id", "embedding", driverCents, fullVec)
    def vecRows(p: String): Array[(Long, Int)] =
      VecIndex.open(spark, p).select(col("doc_id"), col("cid")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted
    val (incV, fullV) = (vecRows(vdir), vecRows(fullVec))
    assert(incV.length == fullV.length,
      s"vec row counts differ: ${incV.length} vs ${fullV.length}")
    assert(incV.sameElements(fullV),
      "stepwise vector index diverged from the full rebuild")

    // the PQ CODE TABLE maintained across the two steps (day-0 build +
    // two assigned appends against the pinned quantizer) must row-equal
    // a fresh buildAssigned over the three-day candidates under the
    // SAME quantizer row — N-steps ≡ fresh-build, lossy-table edition
    import graft.operators.PqIndex
    val pqdir = DailyDriver.pqIndexDir(dir)
    val driverQuant = PqIndex.openQuant(spark, pqdir).localCheckpoint()
    val assignedAll = VecIndex
      .assignFold(candEmb, "doc_id", "embedding", driverCents)
      .select(col("doc_id"), col("embedding"), col("cid"))
    val fullPq = tempDir("daily-driver-pq-full")
    PqIndex.buildAssigned(assignedAll, "doc_id", "embedding",
      driverQuant, fullPq)
    def pqRows(p: String): Array[(Long, Int, Seq[Int])] =
      PqIndex.open(spark, p).select(col("doc_id"), col("cid"), col("codes"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
        .sortBy(_._1)
    val (incP, fullP) = (pqRows(pqdir), pqRows(fullPq))
    assert(incP.length == fullP.length && incP.nonEmpty,
      s"pq row counts differ: ${incP.length} vs ${fullP.length}")
    assert(incP.sameElements(fullP),
      "stepwise PQ code table diverged from the full rebuild")
    // and the two stores share ONE cell layout, doc for doc
    assert(incP.map(r => (r._1, r._2)).sameElements(incV),
      "PQ and vector cell layouts desynced")

    // offline maintenance must be a pure re-layout: decision table,
    // signature index, lexical index, and vector index all
    // row-identical after it. vecDeltaShare = 0 forces the LSM fold so
    // the pass is non-vacuous on the vector side (two appends pending).
    def sigRows(): Array[String] =
      spark.read.parquet(s"$dir/sig_index").collect().map(_.toString).sorted
    val sigBefore = sigRows()
    assert(VecIndex.deltaShare(spark, vdir) > 0.0,
      "fixture vacuous: no pending vec delta before maintain")
    assert(PqIndex.deltaShare(spark, pqdir) > 0.0,
      "fixture vacuous: no pending pq delta before maintain")
    val rep = DailyDriver.maintain(spark, dir, vecDeltaShare = 0.0)
    // the report names exactly what fired: both LSM folds (forced by
    // vecDeltaShare = 0 over pending deltas) and the sig re-layout, no
    // retrain/refresh (undrifted fixture, stores aligned)
    assert(rep.sigRelaid && rep.vecCompacted && rep.pqCompacted &&
      !rep.vecRetrained && !rep.pqRefreshed && rep.pqAlignedBefore,
      s"maintain report disagrees with the fixture: $rep")
    assert(sigRows().sameElements(sigBefore),
      "maintain changed the signature index rows")
    assert(postings(s"$dir/lex_index").sameElements(full),
      "maintain changed the lexical index rows")
    assert(canon(spark.read.parquet(s"$dir/decisions")).sameElements(w),
      "maintain changed the decision table")
    assert(VecIndex.deltaShare(spark, vdir) == 0.0,
      "maintain did not fold the vec delta")
    assert(PqIndex.deltaShare(spark, pqdir) == 0.0,
      "maintain did not fold the pq delta")
    // the one-call operability readout agrees with the direct probes:
    // every store live (the snapshots row only after a seal), no delta
    // debt after the fold, pair aligned
    val st = DailyDriver.status(spark, dir).map(s => s.store -> s).toMap
    assert(st.size == 7 &&
      st.values.filter(_.store != "snapshots").forall(_.live),
      s"stores not all live: $st")
    assert(!st("snapshots").live,
      s"snapshots row claims live before any seal: $st")
    val sv = DailyDriver.snapshot(spark, dir)
    val st2 = DailyDriver.status(spark, dir).map(s => s.store -> s).toMap
    assert(st2("snapshots").live && st2("snapshots").version == sv &&
      st2("snapshots").epoch == 1L,
      s"snapshots row wrong after the first seal: ${st2("snapshots")}")
    assert(st("vec_index").debtShare == 0.0 &&
      st("pq_index").debtShare == 0.0,
      s"status shows delta debt after the fold: $st")
    assert(st("vec_index").version > 0L && st("pq_index").epoch > 0L,
      s"status missing manifest coordinates: $st")
    assert(st.values.forall(_.aligned),
      s"status reports a desync on an aligned pair: $st")
    assert(pqRows(pqdir).sameElements(fullP),
      "maintain changed the PQ code table rows")
    assert(vecRows(vdir).length == fullV.length &&
      VecIndex.open(spark, vdir)
        .select(col("doc_id"), col("embedding"), col("norm")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2))).sortBy(_._1)
        .sameElements(VecIndex.open(spark, fullVec)
          .select(col("doc_id"), col("embedding"), col("norm")).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2))).sortBy(_._1)),
      "maintain changed the vector set")
  }

  test("driver-maintained hybrid retrieval equals the oracle-checked q121 path") {
    // Permissive config + no benchmark hits → every doc is a candidate,
    // so the driver's lex/vec indexes hold exactly q121's corpus (the
    // held-out isQ/isQv split): the SAME fused search over the
    // driver-maintained layouts must be bitwise-identical to the search
    // over a q121-style root — the output CORRECTNESS_r* verifies
    // against the DuckDB oracle. Day 0 + one step exercises the
    // merge/append maintenance path, maintain exercises the policies.
    import graft.operators.{LexIndex, UnigramLm, VecIndex}
    import graft.queries.{CurationQ6, CurationQ7}
    import org.apache.spark.sql.types.IntegerType
    val open = Curation.Config(minQuality = -1e18, maxContamRatio = 1.0)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val isQ = (col("doc_id") % CurationQ6.qMod === 0) &&
      (col("doc_id") < CurationQ6.qCap)
    val corpus = docs.filter(!isQ)
    val corpusEmb = emb.filter(!((col("vec_id") % CurationQ6.qMod === 0) &&
        (col("vec_id") < CurationQ6.qCap)))
      .select(col("vec_id").as("doc_id"), col("embedding"))
    // any benchmark works: contam_ratio ∈ [0,1] ≤ maxContamRatio = 1.0
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val dir = tempDir("daily-driver-hybrid")

    // q121's quantizer convention (first idxCells embeddings), so the
    // two paths probe identical cells — the driver accepts a pre-trained
    // quantizer exactly for workloads standardizing one
    val day0 = corpus.filter(col("doc_id") % 3 =!= 0)
    val day1 = corpus.filter(col("doc_id") % 3 === 0)
    val day0Emb = corpusEmb.join(day0.select("doc_id"), Seq("doc_id"))
    DailyDriver.init(spark, day0, bench, dir, open, Some(day0Emb))
    DailyDriver.step(spark, day1, bench, dir, open, Some(corpusEmb))
    DailyDriver.maintain(spark, dir, vecDeltaShare = 0.0)

    // reference: the q121-root build over the same corpus split
    val root = tempDir("daily-driver-hybrid-root")
    CurationQ7.buildHybridIndexes(spark, sf, root)

    // the driver path derives df/n_docs from ITS OWN lexical index —
    // no corpus re-scan at search time
    val post = LexIndex.openPostings(spark, s"$dir/lex_index")
    val dfreq = post.select(col("term"), col("df")).distinct()
    val nDocs = LexIndex.stats(spark, s"$dir/lex_index")
      .select(col("n_docs"))
    // both paths must use the SAME quantizer for identical cell probes:
    // the driver trained its own (k = VecCells over day-0 candidates),
    // so re-cell the comparison through the driver's quantizer on the
    // reference side is not possible — instead compare through the
    // driver's own quantizer on BOTH sides by searching the reference
    // root's vec index only for the lexical half and rebuilding the
    // reference vec side with the driver's centroids
    val driverCents = VecIndex.openCentroids(spark, DailyDriver.vecIndexDir(dir)).get
    val refVec = tempDir("daily-driver-hybrid-refvec")
    VecIndex.build(
      corpusEmb, "doc_id", "embedding", driverCents, refVec)
    def run(lexPath: String, vecPath: String): Array[String] =
      CurationQ7.fuseSearch(spark, sf, lexPath, dfreq, nDocs,
        vecPath, "doc_id", driverCents)
        .collect().map(_.toString).sorted
    val gotFused = run(s"$dir/lex_index", DailyDriver.vecIndexDir(dir))
    val refFused = run(s"$root/lex", refVec)
    assert(gotFused.length == refFused.length && gotFused.nonEmpty,
      s"fused result sizes differ: ${gotFused.length} vs ${refFused.length}")
    assert(gotFused.sameElements(refFused),
      "driver-maintained hybrid search diverged from the q121-root path")

    // the PACKAGED driver call must reproduce the same rows: same query
    // workload (isQ texts + isQv vectors), same depth/nprobe/df-filter —
    // hybridSearch derives df from the driver's own index (termDf), so
    // this also pins the bucket-pruned df path against the persisted-df
    // reference above
    val qTexts = spark.read.parquet(s"$sf/documents.parquet")
      .filter(isQ).select(col("doc_id").as("q_id"), col("text"))
    val qProbes = emb
      .filter((col("vec_id") % CurationQ6.qMod === 0) &&
        (col("vec_id") < CurationQ6.qCap))
      .select(col("vec_id").as("q_id"), col("embedding"))
    val packagedDf = DailyDriver.hybridSearch(spark, dir, qTexts, qProbes,
      k = 5, depth = CurationQ6.fuseDepth, nprobe = 2,
      maxDfPermille = CurationQ6.dfPermille)
    val packaged = packagedDf.collect().map(_.toString).sorted
    assert(packaged.sameElements(gotFused),
      "DailyDriver.hybridSearch diverged from the fuseSearch composition")

    // IVFADC path: at exhaustive candidate depth the PQ-nominated +
    // exact-reranked vector half covers every probed-cell row, so the
    // fused result is the exact path BITWISE — the equality that
    // licenses registering the pqDepth path under the same oracle
    def hybrid(pqDepth: Int): Array[String] =
      DailyDriver.hybridSearch(spark, dir, qTexts, qProbes,
        k = 5, depth = CurationQ6.fuseDepth, nprobe = 2,
        maxDfPermille = CurationQ6.dfPermille, pqDepth = pqDepth)
        .collect().map(_.toString).sorted
    assert(hybrid(DailyDriver.ExhaustiveRerank).sameElements(packaged),
      "exhaustive-depth IVFADC path diverged from the exact path")
    // bounded depth: the production shape scores ~pqDepth rows per
    // probe instead of the probed cells' occupancy — recall floor vs
    // the exact fused top-5
    def pairs(rows: Array[String]): Set[(String, String)] = rows.map { s =>
      val f = s.stripPrefix("[").split(","); (f(0), f(2))
    }.toSet
    val exactPairs = pairs(packaged)
    val shallow = pairs(hybrid(3 * CurationQ6.fuseDepth))
    val recall = shallow.intersect(exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.6, s"depth-${3 * CurationQ6.fuseDepth} IVFADC fused " +
      s"recall $recall below floor")

    // and the packaged plan keeps the q121/q132 pruning contract: both
    // candidate scans read only the query terms' buckets / the probes'
    // cells (the IndexedHybridSpec assertions, driver edition)
    val plan = packagedDf.queryExecution.executedPlan.toString
    val lexScans = plan.linesIterator.filter(_.contains("/lex_index/buckets")).toSeq
    assert(lexScans.nonEmpty, s"no LexIndex bucket scan in plan:\n$plan")
    assert(lexScans.forall(l => l.contains("PartitionFilters: [") && l.contains("tb")),
      s"hybridSearch LexIndex scan not pruned on tb:\n${lexScans.mkString("\n")}")
    val vecScans = plan.linesIterator.filter(_.contains("/vec_index/cells")).toSeq
    assert(vecScans.nonEmpty, s"no VecIndex cell scan in plan:\n$plan")
    assert(vecScans.forall(l => l.contains("PartitionFilters: [") && l.contains("cid")),
      s"hybridSearch VecIndex scan not pruned on cid:\n${vecScans.mkString("\n")}")
  }

  test("auto-depth policy: the operator picks exact within budget, AdcDepthPerK·k past it") {
    // the pure decision first — the arithmetic the branches hang off
    assert(DailyDriver.autoPqDepth(100L, 100L, 5) == 0,
      "probed bytes AT the budget must stay exact")
    assert(DailyDriver.autoPqDepth(101L, 100L, 5) ==
      DailyDriver.AdcDepthPerK * 5,
      "probed bytes past the budget must pick the measured recall depth")
    assert(DailyDriver.autoPqDepth(Long.MaxValue, 0L, Int.MaxValue) ==
      Int.MaxValue, "depth arithmetic must clamp, not overflow")

    // end-to-end: AutoDepth with a huge budget ≡ forced exact (bitwise);
    // AutoDepth with a zero budget ≡ forced AdcDepthPerK·k (bitwise) —
    // the two branches the policy can take, each pinned against the
    // caller-forced call it must equal
    val open = Curation.Config(minQuality = -1e18, maxContamRatio = 1.0)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val dir = tempDir("daily-driver-autodepth")
    DailyDriver.init(spark, docs, bench, dir, open, Some(emb))
    val k = 5
    val qTexts = docs.filter(col("doc_id") % 40 === 0)
      .select(col("doc_id").as("q_id"), col("text"))
    val qProbes = emb.filter(col("doc_id") % 40 === 0)
      .select(col("doc_id").as("q_id"), col("embedding"))
    def run(pqDepth: Int, budget: Long): Array[String] =
      DailyDriver.hybridSearch(spark, dir, qTexts, qProbes, k = k,
        pqDepth = pqDepth, pqAutoBudgetBytes = budget)
        .collect().map(_.toString).sorted
    val exactForced = run(0, 0L) // budget ignored: explicit depth
    val autoRich = run(DailyDriver.AutoDepth, Long.MaxValue)
    assert(autoRich.sameElements(exactForced),
      "auto within budget diverged from the forced exact scan")
    val adcForced = run(DailyDriver.AdcDepthPerK * k, Long.MaxValue)
    val autoPoor = run(DailyDriver.AutoDepth, 0L)
    assert(autoPoor.sameElements(adcForced),
      "auto past budget diverged from the forced AdcDepthPerK·k path")
    assert(autoPoor.nonEmpty && autoRich.nonEmpty, "vacuous fixture")
  }

  test("a skew-triggered maintain retrains without a redundant fold and refreshes the code table") {
    import graft.operators.{PqIndex, VecIndex}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val day0 = docs.filter(col("doc_id") % 3 =!= 0)
    val day1 = docs.filter(col("doc_id") % 3 === 0)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    val dir = tempDir("daily-driver-skew")
    DailyDriver.init(spark, day0, bench, dir, cfg, Some(emb))
    DailyDriver.step(spark, day1, bench, dir, cfg, Some(emb))
    val vdir = DailyDriver.vecIndexDir(dir)
    val pqdir = DailyDriver.pqIndexDir(dir)
    assert(VecIndex.deltaShare(spark, vdir) > 0.0 &&
      PqIndex.deltaShare(spark, pqdir) > 0.0,
      "fixture vacuous: no pending deltas before the skewed maintain")
    // vecMaxCellShare = 0 declares ANY occupancy skewed — the policy
    // branch fires deterministically without a drift fixture. The
    // retrain re-cells base+delta wholesale, so the separate fold must
    // be SKIPPED (a compact first would rewrite the corpus twice), yet
    // the pending delta still folds; the moved layout then forces the
    // PQ refresh, which retires the code table's delta epoch too.
    // sigRelayShare below the tiny fixture's file-count artifacts so
    // the decisions/sig/fps re-lays may fire too — the closing status
    // assertion is "nothing reclaimable remains after a full pass"
    val rep = DailyDriver.maintain(spark, dir, vecDeltaShare = 0.0,
      vecMaxCellShare = 0.0, vecGcGraceMs = 0L, embeddings = Some(emb),
      sigRelayShare = 0.25)
    assert(rep.vecRetrained && !rep.vecCompacted && rep.pqRefreshed &&
      rep.pqAlignedBefore,
      s"skewed maintain misreported itself: $rep")
    assert(VecIndex.deltaShare(spark, vdir) == 0.0,
      "retrain did not fold the pending vec delta")
    assert(PqIndex.deltaShare(spark, pqdir) == 0.0,
      "refresh did not retire the pq delta epoch")
    // both stores landed on the SAME re-celled layout, doc for doc
    def layout(open: => org.apache.spark.sql.DataFrame): Array[(Long, Int)] =
      open.select(col("doc_id"), col("cid")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(layout(VecIndex.open(spark, vdir))
      .sameElements(layout(PqIndex.open(spark, pqdir))),
      "retrain + refresh left the stores on different cell layouts")
    // default grace: the step's freshly superseded lex buckets are
    // still reader-protected, so the gc-eligible debt reads 0 — the
    // share a default maintain could actually reclaim now
    val st = DailyDriver.status(spark, dir)
    assert(st.forall(s => s.aligned && s.debtShare == 0.0),
      s"post-retrain status shows debt or a desync: $st")
  }
}
