package graft.pipelines

import graft.sources.DriverParquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** The daily corpus-curation driver as a STORAGE protocol — the
  * composition DailyDriverSpec proves, packaged as the two calls a
  * corpus owner actually makes:
  *
  * {{{
  *   DailyDriver.init(spark, corpus, bench, dir, cfg)   // day 0
  *   DailyDriver.step(spark, arrivals, bench, dir, cfg) // every day after
  * }}}
  *
  * Layout under `dir`:
  *  - `decisions/`  — the current decision table (Curation.DecisionCols)
  *  - `sig_index/`  — LSH signature index over the current CANDIDATES
  *    (docs passing quality + contamination), the relation
  *    `StreamOps.streamingNearDup` and `curateIncremental` probe
  *  - `lex_index/`  — [[graft.operators.LexIndex]] over the candidates
  *    (BM25 retrieval), grown by bucket-grain merges each step
  *  - `vec_index/`  — [[graft.operators.VecIndex]] over the candidates'
  *    embeddings (ANN retrieval), when [[init]] was given them: day 0
  *    trains the quantizer and bulk-builds, each [[step]] appends its
  *    delta, [[maintain]] runs the fold/retrain policies — so the
  *    hybrid (BM25 + vector) retrieval stack q132 measures is fully
  *    driver-maintained, never stale on the vector side
  *  - `pq_index/`   — [[graft.operators.PqIndex]] code table over the
  *    same candidates, SAME cosine cell layout as `vec_index` (one
  *    assignment, two stores): the ~32×-smaller ANN state
  *    [[hybridSearch]]'s IVFADC path (`pqDepth > 0`) nominates
  *    candidates from before the exact rerank against `vec_index`
  *  - `fps/`        — per-document content fingerprints (doc_id, fp,
  *    len), batch-partitioned by arrival day like the decision table,
  *    maintained incrementally (one text scan at [[init]], one
  *    per delta at [[step]]) so sealing a [[snapshot]] or running
  *    [[verifySnapshot]] never re-reads corpus text — and so a
  *    [[forget]] rewrites only victim-bearing arrival days
  *  - `snapshots/`  — sealed training-set exports
  *    ([[graft.operators.Snapshots]]): every [[snapshot]] call seals
  *    the current decision table + fingerprints as an immutable
  *    version a training run can pin, diff, audit, and — under a
  *    [[forget]] — have takedown-redacted in place
  *
  * Each step recomputes ONLY the arrivals and the prior components they
  * touch (`Curation.curateIncremental` — proven row-equal to a full
  * rerun), appends the new candidates' signatures to the index, and
  * swaps the decision table in CRASH-ATOMICALLY via
  * [[graft.operators.AtomicSwap]] (write-new → commit marker →
  * delete-old → rename; a crash at any point either leaves the old
  * table serving reads or rolls forward to the new one on the next
  * open — DailyDriverCrashSpec injects both crash directions). The
  * index append is plain parquet append, but a REPLAYED step cannot
  * duplicate it: appends are job-committed (land whole or not at all)
  * and daily ids are disjoint, so the step probes for any delta id
  * before each half — signatures via a semi-join, the lexical merge via
  * `LexIndex.containsAny` — and skips whatever already landed
  * (DailyDriverCrashSpec replays a crashed-before-swap step and pins
  * byte-identical convergence).
  *
  * Writer fencing: every mutating entry point ([[init]]/[[step]]/
  * [[maintain]]/[[chunkInit]]/[[chunkStep]]) runs under the
  * [[graft.operators.Lease]] for `dir` — a second concurrent writer
  * fails fast instead of interleaving appends and swaps with a live
  * step; a CRASHED writer's lease is taken over after the staleness
  * bound (see Lease's scaladoc for the takeover rules).
  *
  * Concurrent store halves: within one call, the job chains of
  * independent stores (signature index, fps, lexical, vector and PQ
  * indexes, snapshots) run side by side through [[Par.forkJoin]], and
  * every fork joins before the call's commit point — a [[step]]'s
  * decision publish stays last — and before its lease is released
  * ([[init]], whose decision write precedes the index builds); a
  * failing half surfaces only once every other half has finished
  * (README "Concurrent store halves").
  *
  * Contract: arrivals' doc_ids are disjoint from every prior day's
  * (re-crawls are deduped upstream — `StreamOps.streamingCurate`), and
  * `cfg`/`benchmark` match day 0 — a changed policy means re-`init`.
  * [[init]] is the recovery path for a crash MID-INIT (day 0 writes are
  * wholesale overwrites, so re-running it converges).
  */
object DailyDriver {
  import graft.operators.{AtomicSwap, Lease, PartitionSwap, fsOf}

  private def decisionsDir(dir: String) = s"$dir/decisions"
  private def indexDir(dir: String) = s"$dir/sig_index"
  private def lexDir(dir: String) = s"$dir/lex_index"
  private def fpsDir(dir: String) = s"$dir/fps"

  /** The decision table and signature index are PARTITIONED BY `batch`
    * (= the step's min arrival id; day 0 = 0 — the chunk loop's key),
    * so the daily publishes are DELTA-GRAIN: [[step]] rewrites only the
    * arrivals' partition plus the partitions holding the re-decided
    * components' rows ([[graft.operators.PartitionSwap]] — staged
    * partition-set publish, commit marker, roll-forward repair), and
    * [[forget]] only the victim-bearing ones, instead of the whole
    * corpus-rows table every day. Wholesale writers ([[init]],
    * [[restore]], [[maintain]]'s gated re-layout) keep the plain
    * [[graft.operators.AtomicSwap]] whole-directory discipline with the
    * partitioned layout inside; the two protocols compose on one table
    * (both repairs run on open, serialized by the shared table lock). */
  private def batched(df: DataFrame): DataFrame =
    // partition discovery infers `batch=N` dirs as int; every writer
    // stamps longs, so pin the type — and tolerate a table whose batch
    // key is a data column (the flat empty shape a total takedown
    // leaves) or absent entirely (a repaired wholesale replacement
    // written without one: adopt batch 0, the next re-lay re-founds it)
    if (df.columns.contains("batch"))
      df.withColumn("batch", col("batch").cast("long"))
    else df.withColumn("batch", lit(0L))

  private def openDecisionsBatched(spark: SparkSession, dir: String): DataFrame = {
    AtomicSwap.repair(spark, decisionsDir(dir))
    PartitionSwap.repair(spark, decisionsDir(dir))
    batched(DriverParquet.read(spark).load(decisionsDir(dir)))
  }

  private def openSigIndexBatched(spark: SparkSession, dir: String): DataFrame = {
    AtomicSwap.repair(spark, indexDir(dir))
    PartitionSwap.repair(spark, indexDir(dir))
    batched(DriverParquet.read(spark).load(indexDir(dir)))
  }

  private def openFpsBatched(spark: SparkSession, dir: String): DataFrame = {
    AtomicSwap.repair(spark, fpsDir(dir))
    PartitionSwap.repair(spark, fpsDir(dir))
    batched(DriverParquet.read(spark).load(fpsDir(dir)))
  }

  /** Whether `path` holds root-level parquet data files — a FLAT table
    * (a repaired wholesale replacement written unpartitioned, or the
    * empty shape a total takedown leaves). Partition-dir appends and
    * PartitionSwap publishes into such a dir would mix `batch=` dirs
    * with root files and wedge discovery — writers re-found the
    * partitioned layout wholesale first. One directory listing. */
  private def hasRootDataFiles(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, p)
    fs.exists(p) && fs.listStatus(p)
      .exists(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
  }

  /** Re-found a flat table as the batch-partitioned layout (rows keep
    * their synthesized/carried batch) — the writers' pre-publish guard
    * against the mixed-layout wedge. No-op when already partitioned;
    * an EMPTY flat table stays flat (a zero-row partitioned write has
    * no partition dir to carry the schema — the writers' own flat-path
    * branches handle that shape). */
  private def refoundPartitioned(spark: SparkSession, open: => DataFrame,
                                 path: String): Unit =
    if (hasRootDataFiles(spark, path)) {
      val rows = open
      if (!rows.isEmpty)
        AtomicSwap.swap(spark, path) { tmp =>
          rows.write.partitionBy("batch").parquet(tmp)
        }
    }

  /** The driver's sealed-snapshot root ([[graft.operators.Snapshots]])
    * — public so audit tooling can list/open the sealed history
    * directly; mutate only through [[snapshot]]/[[snapshotGc]]/
    * [[forget]] (they hold the right leases). */
  def snapshotsDir(dir: String): String = s"$dir/snapshots"

  private def pathExists(spark: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    fsOf(spark, hp).exists(hp)
  }

  /** The driver's vector-index root — public so retrieval code can
    * `VecIndex.open`/`search` the driver-maintained index directly. */
  def vecIndexDir(dir: String): String = s"$dir/vec_index"

  /** The driver's PQ code-table root ([[graft.operators.PqIndex]]) —
    * the ~32×-smaller corpus-resident ANN state the recurring search
    * reads at fleet scale; maintained next to the raw-vector index
    * with the SAME coarse cell layout (the rerank contract). */
  def pqIndexDir(dir: String): String = s"$dir/pq_index"

  /** Coarse-quantizer cell count for the driver's vector index. */
  val VecCells = 8

  /** PQ shape for the driver's code table: m subspaces (the embedding
    * dim must divide evenly), k centroids per sub-codebook, Lloyd
    * rounds for the sub-codebook training. */
  val PqSubspaces = 8
  val PqCodebookK = 16
  val PqIters = 2

  /** [[hybridSearch]]'s `pqDepth` value for a candidate set covering
    * every probed-cell row — the reranked path is then the exact path
    * row-for-row (the oracle-checkable degenerate depth; production
    * picks a finite depth and trades recall for ADC pruning). */
  val ExhaustiveRerank: Int = Int.MaxValue

  /** [[hybridSearch]]'s DEFAULT `pqDepth`: the OPERATOR picks the path.
    * The round-11 crossover measurement (README's IVFADC section,
    * ScaleCheck `adc`) settled the economics — at page-cache scale the
    * exact in-cell scan wins (pqDepth 0); the code table's ~dim·4/m
    * scan-byte advantage pays exactly when the probed cells' raw bytes
    * dwarf memory so scan I/O IS the wall clock. With this sentinel,
    * hybridSearch measures the probed cells' resolved bytes (ownership-
    * chain content summaries, no data read) against
    * `pqAutoBudgetBytes` and applies [[autoPqDepth]] — the decision is
    * policy, not caller documentation. Explicit values (0, or a
    * positive depth) remain caller-forced. */
  val AutoDepth: Int = -1

  /** The measured recall rule for the compressed path: ADC nomination
    * depth ≥ 160·k reads recall ≈ 0.9 at the production shape
    * (SCALECHECK_r11 adc readout: d = 1600 → 0.893 at k = 10). */
  val AdcDepthPerK: Int = 160

  /** Default memory budget for [[autoPqDepth]]: half the JVM's max
    * heap — a LOCAL-MODE proxy for "the probed cells' raw floats are
    * page-cache/compute-bound" (in local mode driver heap ≈ the one
    * machine's memory). On a CLUSTER this proxy under-reads the fleet:
    * a small driver heap next to a large executor page cache would
    * flip default searches to the recall≈0.9 compressed path on
    * driver sizing rather than real scan-I/O economics — so the
    * UNSET default ([[UnsetBudget]]) resolves to this proxy ONLY in
    * local mode; off local mode an unset budget pins the auto policy
    * to the exact scan, and approximate results become an operator
    * opt-in (size `pqAutoBudgetBytes` to the executors' effective
    * cache capacity for the index volume, or force `pqDepth`). */
  val DefaultPqAutoBudgetBytes: Long = Runtime.getRuntime.maxMemory / 2

  /** Sentinel default for `pqAutoBudgetBytes`: "the caller set no
    * budget". Local mode → [[DefaultPqAutoBudgetBytes]]; cluster →
    * the auto policy stays on the exact scan (see above). */
  val UnsetBudget: Long = -1L

  /** The auto-depth decision, factored pure for the spec: probed raw
    * bytes within budget → 0 (exact scan, the measured winner when the
    * floats fit); past it → [[AdcDepthPerK]]·k nominations (the
    * measured recall ≈ 0.9 depth) for the compressed path. */
  def autoPqDepth(probedBytes: Long, budgetBytes: Long, k: Int): Int =
    if (probedBytes <= budgetBytes) 0
    else math.min(AdcDepthPerK.toLong * math.max(k, 1).toLong,
      Int.MaxValue.toLong).toInt

  /** Default gc grace for [[maintain]]'s versioned-index sweeps: long
    * enough for any in-flight [[hybridSearch]]/[[openVecIndex]] scan
    * pinned just before a maintenance publish to finish before its
    * version directories go (the vacuum rule's window). */
  val ReaderGraceMs: Long = 10L * 60 * 1000

  private def candidates(docs: DataFrame, decisions: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .join(decisions.filter(col("quality_pass") && col("contam_pass"))
        .select(col("doc_id")), Seq("doc_id"))

  /** The live decision table (the 9 decision columns — the `batch`
    * partition key is storage layout, not decision state) — repairs an
    * interrupted whole-table swap AND an interrupted partition-set
    * publish first, so an open after a crash always sees a consistent
    * (old or fully-new) table. */
  def openDecisions(spark: SparkSession, dir: String): DataFrame =
    openDecisionsBatched(spark, dir).drop("batch")

  /** The live signature index (same open-repairs contract — [[step]]
    * appends a batch partition, [[forget]] rewrites victim-bearing
    * partitions, [[maintain]]'s gated re-layout swaps wholesale). */
  def openSigIndex(spark: SparkSession, dir: String): DataFrame =
    openSigIndexBatched(spark, dir).drop("batch")

  /** The driver-maintained vector index as a pinned snapshot —
    * `VecIndex.open` over [[vecIndexDir]] (versioned-manifest reads:
    * no repair step exists or is needed; a concurrent maintenance
    * publish never perturbs the returned frame). Requires [[init]] to
    * have been given embeddings. */
  def openVecIndex(spark: SparkSession, dir: String): DataFrame =
    graft.operators.VecIndex.open(spark, vecIndexDir(dir))

  /** The RECURRING retrieval workload over the driver-maintained
    * indexes, packaged: BM25 top-`depth` off the lexical index (query
    * terms df-filtered against the index's own bucket-pruned postings —
    * no corpus scan anywhere), in-cell cosine top-`depth` off the
    * vector index (probes assigned against the pinned quantizer,
    * `nprobe` cells each), fused by [[graft.operators.Rrf]] — the
    * exact arithmetic of the oracle-checked q121/q132 rows
    * (DailyDriverApiSpec pins the equality). Per batch this reads the
    * query terms' buckets + the probes' cells + two 1-row/df-sized
    * stats, never the corpus: the q132 cost shape, now reachable as one
    * driver call.
    *
    * With `pqDepth > 0` the vector half runs the production IVFADC
    * shape instead of scoring every probed-cell raw vector: the
    * [[graft.operators.PqIndex]] code table (~32× smaller than the
    * floats — at fleet scale the half that is actually corpus-resident)
    * nominates `pqDepth` candidates per probe by ADC distance over the
    * SAME probed cells, and only the nominations are exact-cosine
    * reranked against the raw cells ([[graft.operators.VecIndex
    * .rerank]]). At [[ExhaustiveRerank]] depth the nominations cover
    * every probed-cell row and the result is the exact path bitwise;
    * production depths trade tail recall for scoring ~pqDepth instead
    * of ~cell-occupancy rows per probe. Probe cells come from the ONE
    * pinned raw-index quantizer for both halves, so the generator and
    * the reranker always probe the same cells; a concurrent [[maintain]]
    * refresh between the two stores' (separately pinned) manifests can
    * at worst cost nominations — rerank never scores outside its own
    * pinned cells (see VecIndex.rerank's contract). The PQ path is
    * GATED on the persisted store alignment ([[pqCoarseAligned]]): a
    * code table stranded on a retired coarse layout (a crash between a
    * vec retrain and its refresh) silently degrades nomination recall,
    * so a desynced call falls back to the exact scan — always-correct
    * results at the exact path's cost until maintain repairs the pair.
    *
    * @param queries (q_id, text) — the text queries, workload-sized
    * @param probes  (q_id, embedding) — the vector probes (typically
    *                the same ids), workload-sized
    * @param k       fused results per query
    * @param depth   candidate depth per generator before fusion
    * @param nprobe  probed cells per vector query
    * @param maxDfPermille retrieval-term df ceiling (stop-term filter),
    *                in permille of the indexed corpus
    * @param pqDepth [[AutoDepth]] (default) = the OPERATOR picks:
    *                measure the probed cells' resolved raw bytes
    *                against `pqAutoBudgetBytes` and apply
    *                [[autoPqDepth]]; 0 = force the exact in-cell scan;
    *                > 0 = force IVFADC: ADC-nominate this many
    *                candidates per probe from the code table,
    *                exact-rerank only those
    * @param pqAutoBudgetBytes the auto policy's memory budget (only
    *                read when `pqDepth` is [[AutoDepth]]); default
    *                [[UnsetBudget]] = the local-mode heap proxy in
    *                local mode, the exact scan on a cluster */
  def hybridSearch(spark: SparkSession, dir: String,
                   queries: DataFrame, probes: DataFrame,
                   k: Int = 5, depth: Int = 10, nprobe: Int = 2,
                   maxDfPermille: Long =
                     graft.operators.Bm25.DefaultMaxDfPermille,
                   pqDepth: Int = AutoDepth,
                   pqAutoBudgetBytes: Long = UnsetBudget): DataFrame = {
    import graft.operators.{Bm25, KMeans, LexIndex, PqIndex, Rrf, VecIndex}
    val vdir = vecIndexDir(dir)
    // lexical half — df, stats, and the posting scan all read through
    // ONE pinned manifest resolution: a concurrent step's merge
    // publishing between them would otherwise score one version's df
    // against another version's postings (silently wrong BM25)
    def lexHalf: DataFrame = {
      val lex0 = LexIndex.pinned(spark, lexDir(dir))
      val qdocs = queries.select(col("q_id"),
        explode(array_distinct(
          graft.functions.TextFunctions.tokens(col("text")))).as("term"))
      val dfreq = lex0.termDf(qdocs.select(col("term")))
      val nDocs = lex0.stats.select(col("n_docs"))
      // qterms is consumed twice (bucket-id collect + probe join) and is
      // workload-BOUNDED (≤ TermsPerQuery rows per query), so materialize
      // it once as a local relation instead of .cache(): this is a
      // RECURRING call, and a per-invocation cached RDD that nothing
      // unpersists would leak executor storage batch after batch.
      val qtOnce = Bm25.queryTerms(qdocs, dfreq, nDocs, maxDfPermille)
      val qt = spark.createDataFrame(
        java.util.Arrays.asList(qtOnce.collect(): _*), qtOnce.schema)
      lex0.search(qt, depth)
        .select(col("q_id"), col("doc_id"), col("rk").as("rb"))
    }
    // vector half — quantizer and cells from ONE pinned manifest
    // resolution (VecIndex.Pinned): a concurrent maintain() retrain
    // publishing between the two reads would otherwise assign probes
    // with the OLD quantizer against the NEW re-celled layout —
    // silently wrong neighbors, the exact cross-version race the
    // lexical half's LexIndex.Pinned closes
    def vecHalf: DataFrame = {
      val vp = VecIndex.pinned(spark, vdir)
      val cents = vp.centroids.getOrElse(
        throw new IllegalStateException(
          s"driver vec index at $vdir has no quantizer — init with embeddings first"))
      // probe-sized assignment: skip the corpus-fan-out spread (round 14)
      val pr0 = KMeans
        .assignTopPrepared(KMeans.prep(probes, "q_id", "embedding"), "q_id",
          cents, nprobe)
        .join(probes, Seq("q_id"))
        .select(col("q_id"), col("embedding").as("q_vec"), col("cid").as("q_cid"))
      // AUTO-DEPTH: the round-11 crossover readout as policy. One
      // metadata measurement (the probed cids' resolved bytes through the
      // ownership chain — content summaries, no data read) against the
      // budget: within it the probed floats are page-cache/compute-bound
      // and the exact scan is the measured winner (depth 0); past it scan
      // I/O is the wall clock, the code table's ~dim·4/m byte advantage
      // pays, and the depth is the measured recall≈0.9 rule
      // (AdcDepthPerK·k). Only the auto path pays the measurement — and
      // it collects ONLY the distinct probed cids (a handful of longs),
      // never the full (q_id, q_vec, q_cid) assignment: the full collect
      // belongs to the PQ path alone, so a default call whose auto
      // decision lands on the exact scan ships no embedding bytes to the
      // driver at all (large query batches stay executor-side). An unset
      // budget resolves to the heap proxy only in LOCAL mode; on a
      // cluster the proxy misreads the fleet, so the auto policy stays on
      // the always-correct exact scan and the compressed path is an
      // explicit opt-in. An unusable code table (absent / coarse-
      // desynced) short-circuits to the exact scan without measuring.
      // Note the rerank stage still RESCANS the probed raw cells in this
      // scan-based engine — the compressed path's lever is the NOMINATION
      // scan's bytes (README's IVFADC section has the measured trade).
      val budget =
        if (pqAutoBudgetBytes != UnsetBudget) pqAutoBudgetBytes
        else if (spark.sparkContext.isLocal) DefaultPqAutoBudgetBytes
        else -1L
      val measurable = pqDepth == AutoDepth && budget >= 0L
      // the PQ path is taken only when the code table EXISTS and its
      // coarse layout content-equals THIS call's pinned quantizer (one
      // quantizer-sized read — noise next to the search): a dir whose
      // pq_index was never built (a pre-PQ deployment, or an init that
      // crashed between the two index builds) must fall back, not crash
      // in openQuant; and between a committed vec retrain and the
      // maintain pass that re-encodes the code table, the two stores are
      // desynced and nominations would silently lose recall — fall back
      // to the always-correct exact scan instead and let maintain repair
      // the alignment. When the auto measurement can run, the assignment
      // is materialized executor-side beside that check (one assignTop
      // execution total — the measurement's distinct-cid collect and
      // whichever search path wins both read the blocks; embedding bytes
      // still never reach the driver unless the PQ path is taken).
      val (pqUsable, prM) = Par.both(spark)(
        (pqDepth == AutoDepth || pqDepth > 0) &&
          PqIndex.currentVersion(spark, pqIndexDir(dir)) > 0L &&
          pqCoarseAligned(spark, pqIndexDir(dir), collectCoarse(cents)),
        if (measurable) pr0.localCheckpoint(true) else pr0)
      val probedCids =
        if (measurable && pqUsable)
          Some(prM.select(col("q_cid")).distinct().collect().toSeq.map(_.get(0)))
        else None
      val effDepth =
        if (pqDepth != AutoDepth) pqDepth
        else probedCids.fold(0)(cids => autoPqDepth(
          VecIndex.cellBytes(spark, vdir, cids.map(_.asInstanceOf[Number].longValue)),
          budget, k))
      val usePq = effDepth > 0 && pqUsable
      // the probe assignment is materialized as a driver-local relation
      // ONLY when the PQ path will consume it twice (searchAssigned's
      // nomination input AND rerank's probe input — re-running the
      // assignTop join per consumer would double the probe work); the
      // exact path consumes it once
      val pr =
        if (usePq)
          spark.createDataFrame(
            java.util.Arrays.asList(prM.collect(): _*), prM.schema)
        else prM
      val vec0 =
        if (!usePq) VecIndex.search(vp.index, pr, "doc_id", "embedding", depth,
          probedCids)
        else VecIndex.rerank(vp.index, pr,
          PqIndex.searchAssigned(spark, pqIndexDir(dir), pr, "doc_id", effDepth)
            .select(col("q_id"), col("doc_id")),
          "doc_id", "embedding", depth, probedCids)
      vec0.select(col("q_id"), col("doc_id"), col("rk").as("rv"))
    }
    // the two halves read disjoint stores: build them side by side
    val (lex, vec) = Par.both(spark)(lexHalf, vecHalf)
    Rrf.fuse(lex, vec, k)
  }

  /** The (nprobe, pqDepth) TUNING READOUT for [[hybridSearch]] — the
    * number an owner needs to pick production depths: each sweep combo
    * is run against the driver's own stores and scored for recall@k
    * against the ground truth (every cell probed, exact scoring —
    * `nprobe = ` cell count, `pqDepth = 0`), with its wall time. Runs
    * EAGERLY (it measures — the returned frame is the collected
    * result, |nprobes|×|pqDepths| rows): (nprobe, pq_depth, n_results,
    * recall_at_k, wall_sec). Recall is over the fused (q_id, doc_id)
    * set — the end-to-end number a workload owner sees, lex half
    * included. A sweep row at (cells, 0) reproduces the truth by
    * construction (recall 1.0 — the self-check); at
    * ([[ExhaustiveRerank]]) the PQ path is the exact path bitwise. */
  def hybridSearchReport(spark: SparkSession, dir: String,
                         queries: DataFrame, probes: DataFrame,
                         k: Int = 5, depth: Int = 10,
                         nprobes: Seq[Int] = Seq(1, 2, VecCells),
                         pqDepths: Seq[Int] = Seq(0, 10, 40),
                         maxDfPermille: Long =
                           graft.operators.Bm25.DefaultMaxDfPermille): DataFrame = {
    val nCells = graft.operators.VecIndex.openCentroids(spark, vecIndexDir(dir))
      .map(_.count().toInt).getOrElse(VecCells)
    def run(np: Int, pd: Int): (Array[(String, String)], Double) = {
      val t0 = System.nanoTime()
      val got = hybridSearch(spark, dir, queries, probes, k, depth, np,
        maxDfPermille, pd)
        .select(col("q_id"), col("doc_id")).collect()
        .map(r => (r.get(0).toString, r.get(1).toString))
      (got, (System.nanoTime() - t0) / 1e9)
    }
    // one measurement per combo: the truth (all cells, exact) is a sweep
    // row too — memoized, so the most expensive configuration is never
    // paid twice. The default nprobes' VecCells entry means "all cells";
    // a store whose cell count moved with a retrain maps it onto the
    // ACTUAL count, so the self-check row always reproduces the truth
    // (recall 1.0) instead of mis-reading a healthy store.
    val memo = scala.collection.mutable.Map.empty[(Int, Int),
      (Array[(String, String)], Double)]
    def measured(np: Int, pd: Int) = memo.getOrElseUpdate((np, pd), run(np, pd))
    val truth = measured(nCells, 0)._1.toSet
    val sweepNp = nprobes.map(np => if (np == VecCells) nCells else np).distinct
    val rows = for (np <- sweepNp; pd <- pqDepths) yield {
      val (got, sec) = measured(np, pd)
      val recall =
        if (truth.isEmpty) 1.0
        else got.count(truth.contains).toDouble / truth.size
      (np, pd, got.length.toLong, recall, sec)
    }
    import spark.implicits._
    rows.toDF("nprobe", "pq_depth", "n_results", "recall_at_k", "wall_sec")
  }

  /** Day 0: full curation over the corpus; persist the decision table,
    * the fingerprints, and the candidates' signature and retrieval
    * indexes.
    *
    * The stores are independent directories, so their chains run side
    * by side ([[Par]]): the fps write needs only `docs` and runs beside
    * the curation and its decision write; the signature index, the
    * lexical index and the vec+PQ pair need the candidacy and run beside
    * each other once the decisions are written, and inside the vector
    * half the raw index build runs beside the PQ assignment, training
    * and encode. The signature index is built from the token sets the
    * curation already computed, not from a second tokenize pass. Every
    * fork joins before the lease is released.
    *
    * @param embeddings optional (doc_id, embedding) relation for the
    *        corpus — when present, day 0 also trains a coarse quantizer
    *        over the CANDIDATES' embeddings and builds the driver's
    *        [[graft.operators.VecIndex]], so the retrieval stack the
    *        driver maintains has its vector half from the start (q132's
    *        recurring hybrid workload reads it). The quantizer is
    *        persisted with the index (`persistCentroids`) — steps
    *        assign their deltas against it via `openCentroids`. Day 0
    *        also builds the [[graft.operators.PqIndex]] code table over
    *        the same candidates with the SAME cosine cell layout
    *        (sub-codebooks trained on the candidates' residuals) — the
    *        compressed half [[hybridSearch]]'s `pqDepth` path reads.
    * @param quantizer optional pre-trained coarse quantizer
    *        (cid, centroid) — for workloads standardizing one across
    *        deployments; default trains `KMeans.lloyd` (k =
    *        [[VecCells]]) over the day-0 candidates. Either way the
    *        cids are renumbered contiguous 0..n−1 (the PQ coarse row is
    *        positional) before both indexes build from them. */
  def init(spark: SparkSession, docs: DataFrame, benchmark: DataFrame,
           dir: String, cfg: Curation.Config = Curation.Config(),
           embeddings: Option[DataFrame] = None,
           quantizer: Option[DataFrame] = None): Unit =
   Lease.withLease(spark, dir, "init") {
    import graft.operators.{KMeans, LexIndex, PqIndex, UnigramLm, VecIndex}
    // a re-init over a dir with an interrupted publish must not leave
    // that publish's marker to replay stale partitions over day 0
    PartitionSwap.repair(spark, decisionsDir(dir))
    PartitionSwap.repair(spark, indexDir(dir))
    PartitionSwap.repair(spark, fpsDir(dir))
    def day0(df: DataFrame, path: String): Unit =
      df.withColumn("batch", lit(0L))
        .write.partitionBy("batch").mode("overwrite").parquet(path)
    val (_, candSets) = Par.both(spark)(
      // content fingerprints for EVERY corpus doc — the substrate
      // [[snapshot]] seals and [[verifySnapshot]] audits against; built
      // here (the one place a full text scan already happens) and grown
      // per-delta by [[step]], so a snapshot is never a corpus read
      day0(graft.operators.Snapshots.fingerprints(docs), fpsDir(dir)), {
        val (decided, candSets) = Curation.curateWithSignatures(docs, benchmark, cfg)
        day0(decided.select(Curation.DecisionCols.map(col): _*), decisionsDir(dir))
        candSets
      })
    val cand = candidates(docs, DriverParquet.read(spark).load(decisionsDir(dir)))
    // The vector half over the same candidate set (the same candidacy
    // rule keeps the two retrieval indexes aligned doc-for-doc).
    def vecHalf(emb: DataFrame): Unit = {
      val candEmb = emb.join(cand.select(col("doc_id")), Seq("doc_id"))
      val cents = KMeans.contiguous(quantizer.getOrElse(
        KMeans.lloyd(candEmb, "doc_id", "embedding", k = VecCells, iters = 2)))
        .localCheckpoint() // read by both index builds + the PQ trainer
      // the code table shares the raw index's cosine cell layout —
      // one assignment, two stores (the rerank path's contract), so
      // both builds read only `cents` and `candEmb`
      Par.both(spark)(
        VecIndex.build(candEmb, "doc_id", "embedding",
          cents, vecIndexDir(dir), persistCentroids = true), {
        // persist, NOT localCheckpoint: the sub-codebook trainer and the
        // encode both scan this CORPUS-SIZED relation (uncached, the
        // candidates join + assignment fold would run twice), but
        // localCheckpoint truncates lineage into non-replicated executor
        // blocks — one lost executor mid-build would fail the whole job
        // where cached-with-lineage just recomputes the lost partitions
        // (assignFold is deterministic given the pinned cents)
        val assigned = VecIndex
          .assignFold(candEmb, "doc_id", "embedding", cents)
          .select(col("doc_id"), col("embedding"), col("cid"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try
          PqIndex.buildAssigned(assigned, "doc_id", "embedding",
            PqIndex.quantFrom(cents, assigned, "doc_id", "embedding",
              PqSubspaces, PqCodebookK, PqIters),
            pqIndexDir(dir))
        finally assigned.unpersist()
      })
    }
    Par.forkJoin(spark)(
      () => day0(graft.streaming.StreamOps.signatureIndexFromSets(candSets), indexDir(dir)),
      // Retrieval index over the CANDIDATES (quality + contamination
      // pass): candidacy is a per-doc verdict that later steps never
      // revisit — unlike final_keep, which component rebuilds can flip —
      // so the lexical index only ever GROWS and LexIndex.merge's
      // disjoint-delta contract holds. Near-dup refinement is a
      // query-time join against the decision table.
      () => LexIndex.build(UnigramLm.termFreq(cand, "doc_id", "text"), lexDir(dir)),
      () => embeddings.foreach(vecHalf))
  }

  /** Day N: delta-curate the arrivals against the persisted state,
    * append their candidate signatures, publish the decision delta.
    *
    * The decision write is DELTA-GRAIN: `curateIncrementalDelta`
    * returns exactly the rows the arrivals can change (every arrival +
    * every member of a touched prior component), and the publish
    * replaces only the partitions holding those ids — the arrivals'
    * own `batch = min(arrival id)` partition plus the touched
    * components' home partitions — through [[graft.operators
    * .PartitionSwap]] (staged set, commit marker, roll-forward
    * repair: a crash mid-publish leaves the next open serving either
    * the complete old or the complete new table, never a torn mix).
    * Step cost is therefore flat in CORPUS size at fixed delta: the
    * only corpus-proportional touch left is the column-pruned scan
    * that finds the affected components' members.
    * @return the updated decision table (read back from storage) */
  def step(spark: SparkSession, newDocs: DataFrame, benchmark: DataFrame,
           dir: String, cfg: Curation.Config = Curation.Config(),
           embeddings: Option[DataFrame] = None): DataFrame =
    stepImpl(spark, newDocs, benchmark, dir, cfg, embeddings, None)

  /** What the stream's own records say ALREADY LANDED — the day-end
    * reconcile hands this to [[stepImpl]] so the index halves probe
    * only the unlanded remainder instead of re-probing every store
    * with full-day landed-or-not scans: on a cleanly streamed day the
    * remainders are empty and ZERO full-index probes run. vec/pq ids
    * come from the delta epochs' `b=` lineage dirs (delta-bounded,
    * collected before the adopt re-keys them); the lex half has no
    * lineage record and uses its docmap remainder probe instead. */
  private[pipelines] final case class StreamCensus(
      vecLanded: Option[DataFrame], pqLanded: Option[DataFrame])

  /** The remainder of `rows` after a landed-id census (whole relation
    * when no census exists). */
  private def minusLanded(rows: DataFrame,
                          landed: Option[DataFrame]): DataFrame =
    landed.map(l => rows.join(l.select(col("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")).getOrElse(rows)

  private def stepImpl(spark: SparkSession, newDocs: DataFrame,
                       benchmark: DataFrame, dir: String,
                       cfg: Curation.Config, embeddings: Option[DataFrame],
                       streamed: Option[StreamCensus]): DataFrame =
   Lease.withLease(spark, dir, "step") {
    // a flat decision table (repaired unpartitioned replacement) must
    // be re-founded before this step's partition publish renames
    // batch= dirs next to root-level files
    refoundPartitioned(spark, openDecisionsBatched(spark, dir),
      decisionsDir(dir))
    val prevB = openDecisionsBatched(spark, dir)
    val prev = prevB.drop("batch")
    val prevIndex = openSigIndex(spark, dir)
    val deltaIds = newDocs.select(col("doc_id"))
    val mn = newDocs.agg(min(col("doc_id"))).collect()(0)
    require(!mn.isNullAt(0), "step needs a non-empty delta")
    val minId = mn.getLong(0)
    // fingerprint the arrivals (ALL of them — candidacy doesn't gate
    // the audit substrate), stamped with this step's batch so the
    // takedown's fps rewrite prunes to victim-bearing arrival days
    // (the sig index's exact protocol). Same landed-or-not replay
    // probe as the other appends; repair first because [[forget]]
    // swaps/publishes this table. A pre-fps driver dir (upgraded
    // mid-life) starts the table here — its sealed snapshots then
    // carry fingerprints from this day on.
    def fpsHalf(): Unit = {
      val fpsLanded = pathExists(spark, fpsDir(dir)) && {
        AtomicSwap.repair(spark, fpsDir(dir))
        PartitionSwap.repair(spark, fpsDir(dir))
        !DriverParquet.read(spark).load(fpsDir(dir))
          .join(deltaIds, Seq("doc_id"), "left_semi").isEmpty
      }
      if (!fpsLanded) {
        val fpsDelta = graft.operators.Snapshots.fingerprints(newDocs)
          .withColumn("batch", lit(minId))
        if (hasRootDataFiles(spark, fpsDir(dir)))
          // a FLAT table (legacy pre-partitioned layout, or a repaired
          // wholesale replacement) cannot take partition-dir appends —
          // re-found the partitioned layout wholesale, existing rows +
          // the delta in one swap (the sig index's rule)
          AtomicSwap.swap(spark, fpsDir(dir)) { tmp =>
            openFpsBatched(spark, dir).unionByName(fpsDelta)
              .write.partitionBy("batch").parquet(tmp)
          }
        else
          fpsDelta.write.partitionBy("batch").mode("append")
            .parquet(fpsDir(dir))
      }
    }
    // RETRY guards: a step replayed after a crash may find either append
    // already landed (both are job-committed, so they land whole or not
    // at all). Daily ids are disjoint by contract, so one delta id
    // present means that half is done — skip it instead of
    // double-appending signatures / double-merging postings (the lex
    // merge is NOT idempotent: a replayed published merge would
    // double-count the delta). DailyDriverCrashSpec restores the
    // pre-swap decision table and replays the step to pin this.
    def sigHalf(newCand: DataFrame): Unit = {
      val sigLanded = !prevIndex
        .join(deltaIds, Seq("doc_id"), "left_semi").isEmpty
      if (!sigLanded) {
        val sigDelta = graft.streaming.StreamOps.signatureIndex(newCand)
          .withColumn("batch", lit(minId))
        if (hasRootDataFiles(spark, indexDir(dir)))
          // a FLAT table — the empty one a total takedown leaves, or a
          // repaired wholesale replacement written without partitions —
          // cannot take partition-dir appends (batch= dirs next to
          // root-level files wedge discovery): re-found the partitioned
          // layout wholesale, existing rows + the delta in one swap
          AtomicSwap.swap(spark, indexDir(dir)) { tmp =>
            openSigIndexBatched(spark, dir).unionByName(sigDelta)
              .write.partitionBy("batch").parquet(tmp)
          }
        else
          sigDelta.write.partitionBy("batch").mode("append")
            .parquet(indexDir(dir))
      }
    }
    // fold the day's candidates into the retrieval index — touches only
    // the delta's term buckets (see LexIndex.merge; exact vs a full
    // rebuild, DailyDriverApiSpec). Batch path: the all-or-nothing
    // landed probe (one job-committed merge per day). Reconcile path:
    // the stream landed per micro-batch, so a partially streamed day is
    // legitimately MIXED — merge exactly the unlanded remainder (the
    // docmap remainder probe; merge over disjoint new ids is exact).
    def lexHalf(newCand: DataFrame): Unit =
      if (streamed.isEmpty) {
        if (!graft.operators.LexIndex.containsAny(spark, lexDir(dir), deltaIds))
          graft.operators.LexIndex.merge(spark, lexDir(dir),
            graft.operators.UnigramLm.termFreq(newCand, "doc_id", "text"))
      } else {
        val lexTodo = newCand.join(
          graft.operators.LexIndex.presentIds(spark, lexDir(dir),
            newCand.select(col("doc_id"))),
          Seq("doc_id"), "left_anti")
        if (!lexTodo.isEmpty)
          graft.operators.LexIndex.merge(spark, lexDir(dir),
            graft.operators.UnigramLm.termFreq(lexTodo, "doc_id", "text"))
      }
    // vector half: append the day's CANDIDATE embeddings to the driver's
    // VecIndex delta, assigned against the index's pinned quantizer
    // (day 0's, or the latest retrain's — openCentroids tracks the
    // manifest). Same replay guard as the other appends: one landed
    // candidate id means the job-committed append is done — skip it.
    def vecHalf(newCand: DataFrame): Unit = embeddings.foreach { emb =>
      import graft.operators.{PqIndex, VecIndex}
      val vdir = vecIndexDir(dir)
      val cents = VecIndex.openCentroids(spark, vdir).getOrElse(
        throw new IllegalStateException(
          s"driver vec index at $vdir has no quantizer — init with embeddings first"))
      val candEmb = emb.join(newCand.select(col("doc_id")), Seq("doc_id"))
      // batch path: one all-or-nothing landed probe. Reconcile path:
      // subtract the stream's b= census first — on a cleanly streamed
      // day the remainder is EMPTY and no full-index probe runs at all;
      // a partial day appends exactly its unlanded tail (one
      // containsAny over the remainder guards the rare census miss — a
      // mid-day fold that moved lineage batches into the bulk — and the
      // exact presentIds repair covers even that).
      if (streamed.isEmpty) {
        if (!VecIndex.containsAny(spark, vdir, candEmb.select(col("doc_id"))))
          VecIndex.append(candEmb, "doc_id", "embedding", cents, vdir)
      } else {
        val vecTodo = minusLanded(candEmb, streamed.get.vecLanded)
        if (!vecTodo.isEmpty) {
          if (!VecIndex.containsAny(spark, vdir, vecTodo.select(col("doc_id"))))
            VecIndex.append(vecTodo, "doc_id", "embedding", cents, vdir)
          else {
            val todo2 = vecTodo.join(
              VecIndex.presentIds(spark, vdir, vecTodo.select(col("doc_id"))),
              Seq("doc_id"), "left_anti")
            if (!todo2.isEmpty)
              VecIndex.append(todo2, "doc_id", "embedding", cents, vdir)
          }
        }
      }
      // the code table gets the SAME day's candidates under the SAME
      // cosine assignment (assignFold is deterministic given (rows,
      // cents), so the two stores' cell layouts stay identical without
      // sharing a materialized relation). Same landed-or-not replay
      // probe — job-committed append + disjoint daily ids. ALIGNMENT
      // gate: in the desync window after a crashed maintain (vec
      // retrain committed, PQ refresh not), this step's cids come from
      // the NEW layout while the code table's pinned quantizer still
      // holds the OLD — appendAssigned would residualize against the
      // wrong (possibly shorter — ANSI out-of-range) centroid row.
      // Skip the append: searches already fall back to the exact scan
      // while desynced, and the pending sourced refresh re-encodes ALL
      // current candidates (these arrivals included) from the decision
      // table, so nothing is lost.
      val pqdir = pqIndexDir(dir)
      if (PqIndex.currentVersion(spark, pqdir) > 0L &&
          pqCoarseAligned(spark, pqdir, collectCoarse(cents))) {
        def pqAppend(rows: DataFrame): Unit =
          PqIndex.appendAssigned(
            VecIndex.assignFold(rows, "doc_id", "embedding", cents)
              .select(col("doc_id"), col("embedding"), col("cid")),
            "doc_id", "embedding", pqdir)
        // same census discipline as the vec half (see above)
        if (streamed.isEmpty) {
          if (!PqIndex.containsAny(spark, pqdir, candEmb.select(col("doc_id"))))
            pqAppend(candEmb)
        } else {
          val pqTodo = minusLanded(candEmb, streamed.get.pqLanded)
          if (!pqTodo.isEmpty) {
            if (!PqIndex.containsAny(spark, pqdir, pqTodo.select(col("doc_id"))))
              pqAppend(pqTodo)
            else {
              val todo2 = pqTodo.join(
                PqIndex.presentIds(spark, pqdir, pqTodo.select(col("doc_id"))),
                Seq("doc_id"), "left_anti")
              if (!todo2.isEmpty) pqAppend(todo2)
            }
          }
        }
      }
    }
    // The store halves are independent directories, each with its own
    // lease and replay guard, so they run side by side (Par): the fps
    // append needs only the arrivals, so it runs beside the curation;
    // the sig, lex and vec+PQ appends need the arrivals' candidacy and
    // run beside each other once it exists. Every fork joins before the
    // publish below.
    val (_, delta) = Par.both(spark)(fpsHalf(), {
      // RETRY guard, decisions half: the partition publish is this
      // step's COMMIT POINT (it runs last) — a replayed step that finds
      // any arrival already decided is re-running after a crash that
      // happened AT OR AFTER the publish, so every half is landed and
      // the whole pass is probe-cost. Recomputing the delta against a
      // prev that already contains the arrivals would also violate
      // curateIncremental's disjointness contract.
      val decLanded = !prevB.join(deltaIds, Seq("doc_id"), "left_semi").isEmpty
      // eager (localCheckpoint inside): fully materialized before any
      // index half touches its directory
      val delta =
        if (decLanded) None
        else Some(Curation.curateIncrementalDelta(
          prev, prevIndex, newDocs, benchmark, cfg))
      // the arrivals' own decisions (either just computed or already
      // persisted) gate which of them are CANDIDATES for the index halves
      val newCand = candidates(newDocs, delta.getOrElse(prevB)
        .join(deltaIds, Seq("doc_id"), "left_semi"))
      Par.forkJoin(spark)(
        () => vecHalf(newCand), () => sigHalf(newCand), () => lexHalf(newCand))
      delta
    })
    // the delta-grain decision publish — the step's commit point. Each
    // delta row keeps its HOME batch (the step that introduced it);
    // arrivals get this step's. The touched-batch census is bounded by
    // the touched components' distinct arrival days, collected to
    // drive partition pruning on the staged read.
    delta.foreach { d =>
      val dB = d.join(prevB.select(col("doc_id"), col("batch")),
          Seq("doc_id"), "left")
        .withColumn("batch", coalesce(col("batch"), lit(minId)))
        .localCheckpoint() // read twice: batch census + staged write
      val touched = dB.select(col("batch")).distinct()
        .collect().map(_.getLong(0))
      val staged = prevB.filter(
        col("batch").isin(ArraySeq.unsafeWrapArray(touched): _*))
        .join(d.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(dB)
      PartitionSwap.swap(spark, decisionsDir(dir)) { stage =>
        staged.write.partitionBy("batch").parquet(stage)
      }
    }
    openDecisions(spark, dir)
  }

  // ------------------------------------------------- streaming ingest

  private def stagingDir(dir: String) = s"$dir/staging"

  /** The live streaming query [[stepStream]] started — ONE composite
    * ingest query whose every micro-batch lands staging and all three
    * index appends (the four-query round-9 shape paid the ingest gate,
    * micro-batch scheduling, and candidacy arithmetic four ways per
    * trigger; the composite pays each once). Stop (and drain) it
    * BEFORE [[stepStreamReconcile]] — a reconcile racing a live
    * micro-batch could read a half-landed day. */
  final case class StepStreamHandles(
      ingest: org.apache.spark.sql.streaming.StreamingQuery) {
    def all: Seq[org.apache.spark.sql.streaming.StreamingQuery] = Seq(ingest)
    def stopAll(): Unit = all.foreach(_.stop())
  }

  /** CONTINUOUS ingest for a driver dir — the streaming packaging of
    * [[step]]'s first half, so a corpus owner with an arrivals stream
    * no longer hand-composes the fences, replay guards, and day-end
    * reconciliation DailyDriverSpec proves piecewise:
    *
    *  - the ingest gate is [[graft.streaming.StreamOps.streamingCurate]]
    *    (junk cutoff + watermark-bounded re-crawl fingerprint dedup);
    *  - accepted arrivals land in `staging/` effectively-once: each
    *    micro-batch dynamic-overwrites its OWN `mb=` partition, keyed
    *    PAST anything already staged so no restart — same checkpoint
    *    or fresh — can overwrite an earlier lineage's partition with
    *    different content (silent staged-arrival loss); replayed or
    *    re-delivered batches land as duplicate partitions instead,
    *    and [[stepStreamReconcile]]'s doc_id dedup converges them
    *    exactly (day ids are unique by contract);
    *  - CANDIDACY is decided per micro-batch with the batch pipeline's
    *    exact arithmetic (same quality counters, same broadcast
    *    benchmark shingle intersect — the benchmark row collected to a
    *    driver-local relation ONCE at stream start), and the candidates
    *    feed the three index appends — [[hybridSearch]] sees the day's
    *    documents as they arrive, not at day end. EVERY per-trigger
    *    landing is O(batch): the lexical half goes to the index's
    *    STREAM DELTA side (one `b=` write; searches compose bulk +
    *    delta exactly — [[graft.operators.LexIndex.openDelta]]; the old
    *    per-batch merge rewrote every touched bucket, a
    *    corpus-proportional cost per trigger), and the vector halves
    *    are the epoch-fenced `b=` appends. All four landings run
    *    inside ONE composite query's foreachBatch (one checkpoint, one
    *    gate evaluation, one candidacy compute per trigger); a crash
    *    mid-batch replays the whole batch, and every half converges
    *    (mb=/b= dynamic overwrite everywhere — no probe needed). A
    *    concurrent [[maintain]] that folds/retrains bumps the vector
    *    stores' epochs and the ingest FAILS its next batch loudly (the
    *    operators' documented fence) — restart it after the pass;
    *  - the signature index and fingerprint store are deliberately NOT
    *    streamed: nothing reads them intra-day (near-dup pairing runs
    *    at reconcile; snapshots seal after it), so
    *    [[stepStreamReconcile]]'s batch [[step]] lands both through its
    *    ordinary replay guards.
    *
    * This call does NOT hold the driver lease (streams run for hours;
    * cross-mutation safety is the operator fences + index leases) —
    * the day-end [[stepStreamReconcile]] takes it like any step.
    *
    * Contract: one stepStream per dir at a time; arrivals carry
    * (event_time, doc_id, text) with day-disjoint ascending ids (the
    * step contract — the fingerprint dedup only suppresses re-crawled
    * CONTENT); the benchmark's distinct shingle set must fit the
    * broadcast form (`cfg.maxBroadcastShingles` — the join fallback is
    * a batch shape, not an ingest-gate shape). `ingestMinQuality` is
    * OPT-IN (default −∞, gate off): any doc it drops is gone from the
    * decision table AND the fingerprint audit substrate — the batch
    * step records sub-bar docs as failed rows instead — so a gated
    * stream day equals the batch day only over the gate's survivors
    * (DailyDriverSpec's production shape sets it to a junk cutoff
    * well below the curation bar on purpose).
    *
    * LEX DELTA DEBT: the per-trigger lex landing is bounded by a
    * measured debt gate (`lexMaxDeltaShare` byte share past a 64 MB
    * floor, or `lexMaxDeltaBatches` batch dirs): past either bound the
    * delta-so-far FOLDS into the bulk through one ordinary merge
    * mid-stream (an LSM compaction — amortized, exact), so an owner
    * who skips the day-end reconcile, or streams one lineage across
    * days, keeps composed-search cost bounded. A SECOND unreconciled
    * streamed day is supported on an UNFOLDED lineage (batch keys
    * offset past day 1's; one reconcile lands the pile). Once a fold
    * has run: resuming the SAME checkpoint is fine (committed batches
    * are not re-delivered), every append on the marked lineage
    * docmap-filters bulk-present docs (re-delivered folded docs can
    * never double-count), and a FRESH-checkpoint start is refused
    * until the reconcile — the loud posture on the one shape that
    * re-delivers the whole day (DailyDriverStreamSpec pins all three
    * contracts). */
  def stepStream(spark: SparkSession, arrivals: DataFrame,
                 benchmark: DataFrame, dir: String, checkpointRoot: String,
                 cfg: Curation.Config = Curation.Config(),
                 embeddings: Option[DataFrame] = None,
                 ingestMinQuality: Double = Double.NegativeInfinity,
                 watermark: String = "1 hour",
                 lexMaxDeltaShare: Double =
                   graft.operators.LexIndex.DefaultMaxDeltaShare,
                 lexMaxDeltaBatches: Int =
                   graft.operators.LexIndex.DefaultMaxDeltaBatches): StepStreamHandles = {
    import graft.functions.TextFunctions._
    import graft.operators.{LexIndex, PqIndex, VecIndex}
    import graft.streaming.StreamOps
    val ckpt = s"$checkpointRoot/ingest"
    val accepted = StreamOps.streamingCurate(arrivals, ingestMinQuality,
      watermark)
    // staging partitions are keyed PAST anything already staged: a
    // bare mb=batchId would let a fresh-checkpoint restart (the
    // documented recovery after a maintenance fence) re-number from 0
    // and OVERWRITE an earlier lineage's staged partition with
    // different content — silent loss of staged arrivals. With the
    // offset, a replayed/re-delivered batch lands as a DUPLICATE
    // partition instead, which reconcile's doc_id dedup converges
    // (day ids are unique, so the dedup is exact).
    val mbBase: Long = {
      val p = new org.apache.hadoop.fs.Path(stagingDir(dir))
      val f = fsOf(spark, p)
      if (!f.exists(p)) 0L
      else {
        // digits-only parse (the LexIndex delta-dir rule): one stray
        // non-numeric mb= entry must not wedge every stream start
        val MbName = "mb=(\\d+)".r
        f.listStatus(p).map(_.getPath.getName)
          .collect { case MbName(b) => b.toLong }
          .foldLeft(-1L)(math.max) + 1L
      }
    }
    // the benchmark's shingle row is computed ONCE and collected to the
    // DRIVER as a one-row local relation — the four-query shape
    // re-tokenized the whole benchmark inside every consumer's every
    // micro-batch (the dominant slice of the streamed day's 5×
    // batch-day constant). NOT localCheckpoint: day-long pinned
    // non-replicated executor blocks would make every later micro-batch
    // fail after one executor loss (the pattern appendStreamBatch's own
    // comment forbids), and each trigger would pay a block-fetch job to
    // re-broadcast them; a local relation broadcasts driver-side with
    // no job and survives any executor loss. Size is the benchmark's
    // distinct shingle set — the same bound the broadcast form already
    // requires (cfg.maxBroadcastShingles).
    val benchRow = {
      val one = graft.pipelines.Curation
        .benchShingles(benchmark, cfg.shingleWidth)
        .agg(array_sort(collect_set(col("h"))).as("bench_sh"))
      spark.createDataFrame(
        java.util.Arrays.asList(one.collect(): _*), one.schema)
    }
    require(LexIndex.currentVersion(spark, lexDir(dir)) > 0L,
      s"no published index under ${lexDir(dir)} — build first, then stream")
    // the lexical half lands on the index's STREAM DELTA side — one
    // O(batch) `b=` write per trigger where the old per-trigger merge
    // re-read and rewrote every touched bucket (a micro-batch's terms
    // touch ~all buckets, so that was the whole postings index per
    // trigger — corpus-proportional ingest). Searches compose bulk +
    // delta exactly (LexIndex.Pinned); the reconcile folds the day
    // through ONE ordinary merge. Batch keys offset past anything
    // present — the staging table's fresh-checkpoint convention. The
    // lineage GENERATION is pinned here and fence-checked per batch
    // (under the index lease): a zombie checkpoint outliving its
    // reconcile fails loudly instead of double-counting its docs.
    val lexDeltaBase = LexIndex.deltaBatchBase(spark, lexDir(dir))
    // a lineage that already had a MID-STREAM FOLD (the delta debt gate
    // fired — part of its day is merged into the bulk) cannot take a
    // FRESH-checkpoint stream start: a re-delivering restart re-sends
    // docs the fold merged, and although the marked lineage's appends
    // docmap-filter them (the engine-side backstop), the clean posture
    // is the loud reconcile-first refusal. RESUMING the same checkpoint
    // is allowed — committed batches are not re-delivered and the one
    // in-flight batch converges by duplicate-partition dedup — and the
    // commits dir distinguishes the two (a fresh checkpoint has none).
    // An unfolded lineage keeps the documented behaviors: mid-day
    // fresh-checkpoint restarts converge by duplicate-partition dedup,
    // and a SECOND day piling onto an unreconciled lineage is supported
    // (day ids are disjoint; the debt gate bounds what the pile-up
    // costs).
    val resuming = {
      val p = new org.apache.hadoop.fs.Path(s"$ckpt/commits")
      val f = fsOf(spark, p)
      f.exists(p) &&
        f.listStatus(p).exists(!_.getPath.getName.startsWith("."))
    }
    require(resuming || !LexIndex.hasLiveFoldMarker(spark, lexDir(dir)),
      s"the lex delta lineage under ${lexDir(dir)} had a mid-stream " +
        s"fold — run stepStreamReconcile for the staged day before " +
        s"starting a NEW stream (a fresh checkpoint re-delivers the " +
        s"day and its folded docs; resuming the existing checkpoint " +
        s"is fine)")
    // the live generation is a VAR: the per-trigger append returns the
    // generation after its debt-gate fold (bumped when one ran), and
    // the next trigger must fence against THAT. One query's
    // micro-batches run strictly serialized on its execution thread,
    // and each joins its forks (the lex landing writes this var in
    // one) before it returns, so the captured var needs no
    // synchronization.
    var lexGen = LexIndex.deltaGen(spark, lexDir(dir))
    val vdir = vecIndexDir(dir)
    val pqdir = pqIndexDir(dir)
    // pin every store's stream coordinates at START (one manifest
    // resolution each; each micro-batch re-fences under the store's
    // lease inside its appendStreamBatch)
    val vecSide = embeddings.map { emb =>
      val cents0 = VecIndex.openCentroids(spark, vdir).getOrElse(
        throw new IllegalStateException(
          s"driver vec index at $vdir has no quantizer — init with " +
            s"embeddings first"))
      // the quantizer is PINNED for the lineage (the per-batch fence
      // rejects any change), so load it driver-local ONCE — every
      // micro-batch's assignFold otherwise re-reads the centroid
      // parquet, a storage read per trigger a continuous stream pays
      // forever
      val cents = spark.createDataFrame(
        java.util.Arrays.asList(cents0.collect(): _*), cents0.schema)
      val pqPin =
        if (PqIndex.currentVersion(spark, pqdir) > 0L &&
            pqCoarseAligned(spark, pqdir, collectCoarse(cents))) {
          val p0 = PqIndex.pinStreamAppend(spark, pqdir, ckpt)
          // same once-at-start loading for the PQ quantizer row — the
          // per-batch encode otherwise reads it from storage
          Some((p0, PqIndex.quantLocal(spark, pqdir, p0)))
        } else None
      (emb.select(col("doc_id"), col("embedding")),
        VecIndex.pinStreamAppend(spark, vdir, ckpt), pqPin, cents)
    }
    val q = accepted.select(col("doc_id"), col("text"), col("quality"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // ONE micro-batch lands every store, replay-safe end to end: a
        // crash anywhere re-runs the whole batch (offsets uncommitted)
        // and each half converges — vec/pq by their b=batchId dynamic
        // overwrite, lex by its presence probe, and staging by
        // duplicate-partition + reconcile's doc_id dedup (the replayed
        // batch lands in a NEW mb= partition: every restart re-derives
        // mbBase past the staged max, the price of never overwriting
        // another lineage's partition).
        val batch = batch0.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // the staging write and the index landings touch disjoint stores:
        // they run side by side (Par, on the micro-batch's own session)
        // and join before the batch returns, so the next trigger sees
        // every landing — lexGen included, written in its fork
        def stageHalf(): Unit =
          batch.select(col("doc_id"), col("text"))
            .withColumn("mb", lit(mbBase + batchId))
            .write.partitionBy("mb").mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(stagingDir(dir))
        def indexHalf(): Unit = {
          // candidacy ONCE per micro-batch, the batch score()'s exact
          // arithmetic: the gate's quality + the broadcast benchmark
          // shingle intersect — so the streamed index entries are
          // bitwise the ones the batch step would have appended
          val cand = batch
            .withColumn("tk", tokens(col("text")))
            .withColumn("sh", wordShingles(col("tk"), cfg.shingleWidth))
            .crossJoin(broadcast(benchRow))
            .withColumn("n_overlap",
              call_function("sorted_intersect_count",
                col("sh"), col("bench_sh"))
                .cast(org.apache.spark.sql.types.LongType))
            .withColumn("contam_ratio",
              when(size(col("sh")) > 0,
                col("n_overlap")
                  .cast(org.apache.spark.sql.types.DoubleType) /
                  size(col("sh"))
                    .cast(org.apache.spark.sql.types.DoubleType))
                .otherwise(0.0))
            .filter(col("quality") >= cfg.minQuality &&
              col("contam_ratio") <= cfg.maxContamRatio)
            .select(col("doc_id"), col("text"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try if (!cand.isEmpty) Par.forkJoin(batch0.sparkSession)(
            () => lexGen = LexIndex.appendStreamDeltaBatch(spark, lexDir(dir), cand,
              lexDeltaBase + batchId, lexGen,
              lexMaxDeltaShare, lexMaxDeltaBatches),
            () => vecSide.foreach { case (emb, vecPin, pqPin, cents) =>
              // one cosine assignment, two stores (the batch step's
              // appendAssigned rule — PQ's own coarse rule would
              // silently desync the pair doc by doc)
              val assigned = VecIndex.assignFold(
                emb.join(broadcast(cand.select(col("doc_id"))),
                  Seq("doc_id")),
                "doc_id", "embedding", cents)
                .persist(
                  org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              try {
                VecIndex.appendStreamBatch(spark, vdir, vecPin,
                  assigned.select(col("doc_id"), col("embedding"),
                    col("norm"), col("cid")), batchId)
                pqPin.foreach { case (p, quant) =>
                  PqIndex.appendStreamBatch(spark, pqdir, p,
                    PqIndex.encodeAssignedLocal(
                      assigned.select(col("doc_id"), col("embedding"),
                        col("cid")),
                      "doc_id", "embedding", quant), batchId)
                }
              } finally assigned.unpersist()
            })
          finally cand.unpersist()
        }
        try if (!batch.isEmpty)
          Par.forkJoin(batch0.sparkSession)(() => stageHalf(), () => indexHalf())
        finally batch.unpersist()
        ()
      }
      .start()
    StepStreamHandles(q)
  }

  /** END-OF-DAY reconcile for [[stepStream]]: fold the staged arrivals
    * into the decision table and whatever stores the streams did NOT
    * land. This IS the batch [[step]] over the staged day, driven by
    * the stream's own LANDED-WORK CENSUS (the vec/pq delta epochs' `b=`
    * lineage records, read before the adopt re-keys them): the index
    * halves subtract the census and touch only the unlanded remainder —
    * a cleanly streamed day runs ZERO full-index landed probes, and a
    * PARTIALLY streamed day (the stream stopped mid-day without replay)
    * appends exactly its unlanded tail, so
    * partial-stream + reconcile ≡ the full batch step
    * (DailyDriverStreamSpec). The vector stores' stream-governed delta
    * epochs are handed back to the batch discipline FIRST (an O(delta)
    * re-key + epoch bump, [[graft.operators.VecIndex
    * .adoptStreamDelta]] — the remainder appends are batch appends and
    * tomorrow's batch [[step]] must not meet the lineage's replay
    * keys), then the decision delta publishes as the single commit
    * point and the staging table is cleared for the next day
    * (idempotent: a reconcile replayed after a crash finds the
    * decisions landed, no-ops every half — census None after the
    * adopt, so the full-probe fallback guards it — and just re-clears
    * staging).
    *
    * Call with every [[StepStreamHandles]] query STOPPED after a final
    * drain; a reconcile racing live micro-batches would read a
    * half-landed day.
    * @return the updated decision table (read back from storage) */
  def stepStreamReconcile(spark: SparkSession, benchmark: DataFrame,
                          dir: String,
                          cfg: Curation.Config = Curation.Config(),
                          embeddings: Option[DataFrame] = None): DataFrame = {
    val sd = stagingDir(dir)
    require(pathExists(spark, sd),
      s"no staged arrivals under $sd — stepStream never ran (or this " +
        s"day was already reconciled)")
    // distinct by doc_id: a mid-day fresh-checkpoint restart (the
    // documented recovery after a maintenance fence) replays arrivals
    // under new micro-batch boundaries, so a doc can land in two mb=
    // partitions — day ids are unique by contract, so the dedup is
    // exact and delta-sized
    val staged = DriverParquet.read(spark).load(sd)
      .select(col("doc_id"), col("text"))
      .dropDuplicates("doc_id").localCheckpoint(true)
    require(!staged.isEmpty,
      s"staging under $sd is empty — nothing to reconcile")
    import graft.operators.{PqIndex, VecIndex}
    // LANDED-WORK CENSUS, read BEFORE the adopts re-key the lineage
    // dirs: the stream's own `b=` records say exactly which vec/pq
    // appends landed (each micro-batch append is one atomic dynamic
    // overwrite), so the step's index halves probe only the unlanded
    // remainder — zero full-index probes on a cleanly streamed day, one
    // remainder-sized probe per store on a partial one. Materialized
    // eagerly (delta-sized): the census must survive the adopt below.
    //
    // Then hand the vector stores back to the BATCH discipline BEFORE
    // the step (round 12 moved this up from after): the census-enabled
    // remainder appends are batch appends, and VecIndex.append refuses
    // a stream-governed epoch by design. O(delta) re-key + epoch bump —
    // never the corpus-linear fold, which stays maintain's policy call.
    // The bump also fences a zombie checkpoint's late micro-batch
    // loudly. Unconditional: adopt no-ops on an absent or batch-
    // governed epoch at probe cost, and gating on manifest version
    // would skip the documented pure-stream v=0 state, leaving the
    // epoch stream-governed so tomorrow's batch append fails its fence.
    // Crash between the adopts and the step's decision publish: staging
    // is still present, the replayed reconcile reads census None (the
    // b= dirs are gone) and the step's full-probe fallback skips the
    // landed halves — the exact pre-census behavior.
    // the LEXICAL fold: the stream landed the day on the index's delta
    // side (search-visible all day); the day's source of truth is the
    // staging table, so RETIRE the delta first (generation bump under
    // the index lease — pinned readers keep their files, a zombie
    // batch fails its fence) and let the step's lex half land the
    // whole day through ONE ordinary merge (the remainder probe reads
    // the day as unlanded). Retire-then-merge: a crash between the two
    // costs a brief search-visibility dip for the day — never a double
    // count — and the replayed reconcile re-merges from staging.
    //
    // The three stores are independent directories under their own
    // leases: their chains run side by side (Par) and join before the
    // step.
    val Seq(vecLanded, pqLanded, _) = Par.forkJoin[Option[DataFrame]](spark)(
      () => {
        val landed = VecIndex.streamDeltaIds(spark, vecIndexDir(dir), "doc_id")
          .map(_.distinct().localCheckpoint(true))
        VecIndex.adoptStreamDelta(spark, vecIndexDir(dir))
        landed
      },
      () => {
        val landed = PqIndex.streamDeltaIds(spark, pqIndexDir(dir), "doc_id")
          .map(_.distinct().localCheckpoint(true))
        PqIndex.adoptStreamDelta(spark, pqIndexDir(dir))
        landed
      },
      () => { graft.operators.LexIndex.clearStreamDelta(spark, lexDir(dir)); None })
    val census = StreamCensus(vecLanded, pqLanded)
    val out = stepImpl(spark, staged, benchmark, dir, cfg, embeddings,
      Some(census))
    val p = new org.apache.hadoop.fs.Path(sd)
    fsOf(spark, p).delete(p, true)
    out
  }

  /** Composed takedown across the driver's stores — the call a GDPR /
    * rights-holder / decontamination retraction makes, packaged so the
    * owner never hand-sequences seven per-store deletes (and never gets
    * the ordering wrong). Under ONE driver lease:
    *
    *  1. re-decide the decision table via [[Curation.forget]] — victims'
    *     rows drop, and the surviving members of their components are
    *     re-curated exactly (survivor re-election, component splits);
    *  2. retract the victims from every index half — the signature
    *     index by a PARTITION-PRUNED rewrite (only victim-bearing
    *     `batch=` partitions move, through [[graft.operators
    *     .PartitionSwap]]), the lexical/vector/PQ indexes by their
    *     own bucket/cell-grain `delete`s — candidacy never changes
    *     under a forget (quality/contam are per-doc), so victim
    *     removal IS the whole index delta;
    *  3. publish the re-decided decision delta LAST (victim-bearing +
    *     re-decided partitions only — the commit point);
    *  4. after the commit: re-export any sealed training-shard
    *     manifests the snapshot redaction made stale (their staleness
    *     fence keeps them unreadable either way, so a re-export
    *     refusal never un-commits the takedown).
    *
    * Crash/replay: every index delete is idempotent (removing an absent
    * id is a no-op) and the decision swap is the single commit point —
    * a replay before the swap re-derives the same affected set from the
    * still-victim-bearing old table and re-runs the no-op deletes; a
    * replay after it finds no victims anywhere and changes nothing.
    * DailyDriverForgetSpec pins `forget ≡ init over corpus ∖ victims`
    * across all stores and replays a torn forget both ways.
    *
    * Scale note: every store's takedown write is now delta-
    * proportional — the lex/vec/PQ deletes rewrite only the victims'
    * term buckets / an id-pruned cells version, and the signature and
    * decision rewrites move only victim-bearing batch partitions (the
    * whole-table anti-join swap is gone). The one remaining
    * corpus-share cost is a stale shard re-export, post-commit and
    * only for snapshots that were exported.
    *
    * Streams: like every maintenance mutation, no live [[graft
    * .operators.LexIndex.appendStream]]/append stream during a forget —
    * a replayed batch could resurrect victims it had in flight (the
    * stores' documented interim-delete caveat): quiesce first.
    *
    * The chunk-grain loop is its own protocol — [[chunkForget]].
    *
    * @param victims (doc_id) rows to forget; absent ids are ignored
    * @param docs    the corpus relation (doc_id, text) — probed by id
    *                for the affected components' surviving members only
    * @return the updated decision table (read back from storage) */
  def forget(spark: SparkSession, victims: DataFrame, docs: DataFrame,
             dir: String, cfg: Curation.Config = Curation.Config()): DataFrame =
   Lease.withLease(spark, dir, "forget") {
    import graft.operators.{LexIndex, PqIndex, VecIndex}
    val vIds = victims.select(col("doc_id")).distinct().localCheckpoint(true)
    refoundPartitioned(spark, openDecisionsBatched(spark, dir),
      decisionsDir(dir))
    val prevB = openDecisionsBatched(spark, dir)
    val prev = prevB.drop("batch")
    // the delta: every re-decided survivor row (eager, delta-sized) —
    // victims themselves are simply dropped from their partitions.
    // The store retractions run beside it (Par — independent
    // directories, each under its own lease, and none is read by the
    // re-decision) and all join before the decisions publish below (the
    // commit point) — see the replay contract above. The signature
    // rewrite is PARTITION-PRUNED: only victim-bearing batches move
    // (one column-pruned census scan to find them), so the takedown's
    // sig cost is delta-proportional like the other stores' — the
    // whole-table anti-join swap is gone.
    val (redecided, _) = Par.both(spark)(
      Curation.forgetDelta(prev, vIds, docs, cfg),
      Par.forkJoin(spark)(
        () => {
          refoundPartitioned(spark, openSigIndexBatched(spark, dir), indexDir(dir))
          pruneVictimBatches(spark, indexDir(dir),
            openSigIndexBatched(spark, dir), vIds)
        },
        () =>
          if (LexIndex.currentVersion(spark, lexDir(dir)) > 0L)
            LexIndex.delete(spark, lexDir(dir), vIds),
        // the vector deletes publish a fresh cells version — a
        // corpus-sized rewrite — so gate them on a victim actually being
        // present (the lex delete's victimBuckets probe gives it this for
        // free): a post-swap replay, or victims that were never
        // candidates, must stay a metadata-cost no-op instead of
        // rewriting and re-bumping both stores for nothing
        () => {
          val vdir = vecIndexDir(dir)
          if (VecIndex.currentVersion(spark, vdir) > 0L &&
              VecIndex.containsAny(spark, vdir, vIds))
            VecIndex.delete(spark, vdir, "doc_id", vIds)
        },
        () => {
          val pqdir = pqIndexDir(dir)
          if (PqIndex.currentVersion(spark, pqdir) > 0L &&
              PqIndex.containsAny(spark, pqdir, vIds))
            PqIndex.delete(spark, pqdir, "doc_id", vIds)
        },
        // the victims' text-derived fingerprints go too — the signature
        // rewrite's exact partition-pruned protocol
        () =>
          if (pathExists(spark, fpsDir(dir))) {
            refoundPartitioned(spark, openFpsBatched(spark, dir), fpsDir(dir))
            pruneVictimBatches(spark, fpsDir(dir),
              openFpsBatched(spark, dir), vIds)
          },
        // ... and the takedown cascades through SEALED history: every
        // snapshot version containing a victim is redacted in place
        // (version numbers and "run T ← snapshot N" records survive,
        // minus exactly the forgotten rows). Idempotent per the redact
        // contract, so the replay story above is unchanged.
        () =>
          if (graft.operators.Snapshots.versions(spark, snapshotsDir(dir)).nonEmpty)
            graft.operators.Snapshots.redact(spark, snapshotsDir(dir), vIds)))
    // the delta-grain decision publish, LAST (the commit point): only
    // partitions holding a victim or a re-decided survivor move; a
    // batch whose every row was a victim is dropped through the same
    // marker (a staged write with zero rows for it would leave it
    // silently serving the forgotten docs)
    val touched = prevB.join(
        vIds.unionByName(redecided.select(col("doc_id"))),
        Seq("doc_id"), "left_semi")
      .select(col("batch")).distinct().collect().map(_.getLong(0))
    if (touched.nonEmpty) {
      val content = prevB.filter(col("batch").isin(touched.toSeq: _*))
        .join(vIds, Seq("doc_id"), "left_anti")
        .join(redecided.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(redecided
          .join(prevB.select(col("doc_id"), col("batch")), Seq("doc_id")))
        .localCheckpoint() // read twice: batch census + staged write
      val live = content.select(col("batch")).distinct()
        .collect().map(_.getLong(0)).toSet
      val untouched = prevB.select(col("batch")).distinct()
        .filter(!col("batch").isin(touched.toSeq: _*)).limit(1).count() > 0L
      // a takedown that would empty the WHOLE decision table is a
      // reset, not a retraction (an empty partitioned table cannot
      // carry its schema, wedging every later open/step) — refuse
      // loudly and point at re-init, chunkForget's rule
      require(untouched || live.nonEmpty,
        s"forget would remove every decision row under $dir — delete " +
          s"the directory and re-init over the new corpus instead")
      PartitionSwap.swap(spark, decisionsDir(dir),
        drop = (touched.toSet -- live).toSeq.sorted.map(b => s"batch=$b")) {
        stage => content.write.partitionBy("batch").parquet(stage)
      }
    }
    // AFTER the commit point: re-pack every exported training-shard
    // manifest the redaction made stale over the survivors (same
    // params, read back from each export's marker) — a trainer never
    // mounts chunks of forgotten documents either way (openShards'
    // staleness fence refuses a stale export), so running this after
    // the decision publish means a refusal here — e.g. `docs` not
    // covering a snapshot's full kept text, which forget itself never
    // needs — leaves the TAKEDOWN committed and only the re-export
    // pending (rerun exportShards/reexportStaleShards with a covering
    // corpus relation)
    if (graft.operators.Snapshots.versions(spark, snapshotsDir(dir)).nonEmpty)
      graft.operators.Snapshots.reexportStaleShards(
        spark, snapshotsDir(dir), docs)
    openDecisions(spark, dir)
   }

  // ------------------------------------------------- chunk-grain loop

  /** Chunk-grain (substring) dedup runs as its OWN daily protocol,
    * deliberately not entangled with the decision table: rewriting text
    * before quality scoring would change the decisions' equivalence to a
    * full rerun, so corpus owners sequence the two loops explicitly.
    * Layout under `dir` (both tables partitioned by `batch` = the
    * step's min arrival id, day 0 = 0 — the key that makes retries
    * overwrite-in-place instead of append-duplicate):
    *  - `chunk_index/` — distinct chunk hashes of everything processed
    *  - `cleaned/`     — the rewritten corpus, one partition per step
    *
    * Day N rewrites arrivals with [[graft.operators.ChunkDedup
    * .rewriteAgainst]] (delta-global first occurrence AND index miss —
    * covers cross-doc repeats within the delta that the stateless
    * ingest-time `streamingChunkRewrite` leaves to the day end) and
    * lands the delta's NEW chunk hashes. The index holds hashes at
    * ORIGINAL chunk boundaries (re-chunking cleaned text would shift
    * boundaries mid-document and break the equivalence), and since
    * every distinct hash has exactly one surviving occurrence, "all
    * distinct hashes processed" IS the survivor set. The new hashes are
    * anti-joined against the PRIOR batches first, keeping the index
    * duplicate-free by construction — a duplicated hash row would fan
    * out the probe join. DailyChunkSpec proves multi-step ≡ one full
    * [[graft.operators.ChunkDedup.rewrite]] over the union (arrival ids
    * must ascend across days — the same disjointness contract as
    * [[step]]). */
  private def chunkIndexDir(dir: String) = s"$dir/chunk_index"
  private def cleanedDir(dir: String) = s"$dir/cleaned"

  /** Day 0: full rewrite; persist the cleaned corpus and the corpus's
    * chunk-hash index, both under `batch=0` of the batch-partitioned
    * layout [[chunkStep]] extends. */
  def chunkInit(spark: SparkSession, docs: DataFrame, dir: String,
                c: Int = 20): Unit =
   Lease.withLease(spark, dir, "chunkInit") {
    import graft.operators.ChunkDedup
    ChunkDedup.rewrite(docs, "doc_id", "text", c)
      .withColumn("batch", lit(0L))
      .write.partitionBy("batch").mode("overwrite").parquet(cleanedDir(dir))
    ChunkDedup.chunkIndex(docs, "text", c)
      .withColumn("batch", lit(0L))
      .write.partitionBy("batch").mode("overwrite").parquet(chunkIndexDir(dir))
  }

  /** The chunk loop's live tables without the layout's `batch` column
    * (the per-step partition key that makes retries idempotent). */
  def openCleaned(spark: SparkSession, dir: String): DataFrame =
    DriverParquet.read(spark).load(cleanedDir(dir)).drop("batch")

  def openChunkIndex(spark: SparkSession, dir: String): DataFrame =
    DriverParquet.read(spark).load(chunkIndexDir(dir)).drop("batch")

  /** Day N: rewrite arrivals against the index; land their cleaned rows
    * and their new chunk hashes under the step's own `batch=minId`
    * partition via DYNAMIC partition overwrite. That makes a RETRY of a
    * crashed step idempotent by construction: the re-run overwrites
    * exactly its own partition on both tables instead of appending
    * duplicates, and the rewrite probe excludes the step's own batch —
    * otherwise the retry would see its first attempt's hashes in the
    * index and strip every delta chunk as "already seen" (the cleaned
    * partition would come back empty). DailyChunkSpec replays a step
    * twice and pins both tables unchanged.
    * @return the arrivals' cleaned rows (read back from storage) */
  def chunkStep(spark: SparkSession, newDocs: DataFrame, dir: String,
                c: Int = 20): DataFrame =
   Lease.withLease(spark, dir, "chunkStep") {
    import graft.operators.ChunkDedup
    val ids = newDocs.agg(min(col("doc_id"))).collect()(0)
    require(!ids.isNullAt(0), "chunkStep needs a non-empty delta")
    val minId = ids.getLong(0)
    // prior = every batch but this step's own (a retry's first attempt)
    val prior = DriverParquet.read(spark).load(chunkIndexDir(dir))
      .filter(col("batch") =!= minId).drop("batch")
    ChunkDedup.rewriteAgainst(newDocs, "doc_id", "text", prior, c)
      .withColumn("batch", lit(minId))
      .write.partitionBy("batch").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(cleanedDir(dir))
    ChunkDedup.chunkIndex(newDocs, "text", c)
      .join(prior, Seq("chunk_hash"), "left_anti")
      .withColumn("batch", lit(minId))
      .write.partitionBy("batch").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(chunkIndexDir(dir))
    DriverParquet.read(spark).load(cleanedDir(dir))
      .filter(col("batch") === minId).drop("batch")
  }

  /** Takedown for the chunk loop's CLEANED corpus — the half that holds
    * actual text. Victims' cleaned rows are removed at batch-partition
    * grain: batches holding any victim are re-written via dynamic
    * partition overwrite (only those partitions move), and a batch
    * whose every row was a victim is deleted outright (a dynamic
    * overwrite with zero rows for a partition would leave it
    * untouched — the silent-survival trap).
    *
    * The CHUNK-HASH INDEX deliberately keeps the victims' hashes. The
    * index's invariant is "every distinct hash has exactly one
    * surviving occurrence" — but other documents' repeats of a victim's
    * chunks were already STRIPPED from their cleaned text, and that
    * rewriting is immutable history: dropping the victim's hashes would
    * not resurrect those occurrences, it would only let FUTURE arrivals
    * re-introduce text byte-identical to the forgotten content. Keeping
    * the 64-bit fingerprints (not recoverable text) preserves the
    * multi-step ≡ full-rewrite equivalence for all remaining and future
    * documents; the takedown obligation — the text itself — is gone.
    *
    * Idempotent by construction (re-running finds no victim rows);
    * same no-live-step discipline as every chunk mutation. */
  def chunkForget(spark: SparkSession, victims: DataFrame, dir: String): Unit =
   Lease.withLease(spark, dir, "chunkForget") {
    val vIds = victims.select(col("doc_id")).distinct().localCheckpoint(true)
    // pin the partition column back to long — discovery infers int
    val cleaned = DriverParquet.read(spark).load(cleanedDir(dir))
      .withColumn("batch", col("batch").cast("long"))
    val hit = cleaned.join(vIds, Seq("doc_id"), "left_semi")
      .select(col("batch")).distinct().collect().map(_.getLong(0))
    if (hit.isEmpty) return
    val survivors = cleaned.filter(col("batch").isin(hit.toSeq: _*))
      .join(vIds, Seq("doc_id"), "left_anti")
      .localCheckpoint() // read twice (batch census + rewrite), and the
                         // rewrite overwrites its own lineage's source
    val liveBatches = survivors.select(col("batch")).distinct()
      .collect().map(_.getLong(0)).toSet
    // a takedown that would empty the WHOLE cleaned corpus leaves no
    // partition to carry the schema (read.parquet on a bare directory
    // fails inference, wedging every later open/step) — that shape is
    // a reset, not a retraction: refuse loudly and point at chunkInit
    val untouched = cleaned.select(col("batch")).distinct()
      .filter(!col("batch").isin(hit.toSeq: _*)).limit(1).count() > 0L
    require(untouched || liveBatches.nonEmpty,
      s"chunkForget would remove every cleaned document under $dir — " +
        s"an empty partitioned table cannot carry its schema; delete " +
        s"the directory and re-chunkInit over the new corpus instead")
    if (liveBatches.nonEmpty)
      survivors // its distinct batches ARE liveBatches — no re-filter
        .write.partitionBy("batch").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(cleanedDir(dir))
    val f = fsOf(spark, new org.apache.hadoop.fs.Path(cleanedDir(dir)))
    for (b <- hit if !liveBatches.contains(b))
      f.delete(new org.apache.hadoop.fs.Path(
        s"${cleanedDir(dir)}/batch=$b"), true)
   }

  // -------------------------------------------------- offline maintenance

  /** Periodic maintenance for the driver's storage — run between steps
    * (no step in flight), the way a corpus owner schedules weekly
    * compaction next to the daily delta:
    *
    *  - `LexIndex.compactIfGarbage`: merges fold bucket rewrites into
    *    versioned directories; compaction re-clusters the live buckets
    *    into ONE version and garbage-collects everything superseded.
    *    Policy-gated on `lexGcShare` (superseded-bytes share; the
    *    default 0.0 compacts whenever any garbage exists, the original
    *    every-window behavior — raise it to let small strandings ride
    *    until they carry real weight). `lexGcGraceMs` flows through to
    *    the GC so deployments with live index readers keep pinned
    *    versions alive across the compaction (LexIndex.gc's vacuum
    *    rule);
    *  - the signature index: every [[step]] appends ~one task-count of
    *    files into its batch partition, so an N-day driver reads many
    *    small files per near-dup probe — compacted here to one file per
    *    batch (partitioning preserved: [[forget]]'s pruning reads it)
    *    via the same write-new → atomic-swap discipline as the other
    *    wholesale rewrites. GATED on `sigRelayShare`: the measured debt
    *    is the share of data files a re-lay would remove (one directory
    *    listing — below the threshold that listing is the whole cost,
    *    and the rewrite is a pure re-layout when it fires:
    *    DailyDriverApiSpec asserts row identity);
    *  - the vector index (when [[init]] built one): both of its
    *    policies — `VecIndex.compactIfDelta` folds the accumulated
    *    daily-append delta once it carries more than `vecDeltaShare` of
    *    the index's bytes (the LSM debt), and `VecIndex.retrain` runs
    *    once the pass-start `VecIndex.cellSkew` shows drift has
    *    concentrated more than `vecMaxCellShare` of the rows into one
    *    cell (a retrain re-cells base+delta wholesale, so the fold is
    *    SKIPPED on a retrain pass — it would be rewritten again
    *    immediately). Below their thresholds each policy's measurement
    *    (two content summaries; one column-pruned cid scan) is the
    *    whole cost. `vecGcGraceMs` keeps pinned readers' versions alive
    *    across the fold, like the lexical grace — its DEFAULT is
    *    [[ReaderGraceMs]], not 0: [[openVecIndex]]/[[hybridSearch]]
    *    advertise pinned snapshots safe under concurrent maintenance,
    *    and a zero-grace gc would delete a concurrent search's pinned
    *    version directories mid-scan. Pass 0 explicitly only under the
    *    offline discipline (no readers in flight).
    *
    *  - the PQ code table (when [[init]] built one): the LSM fold
    *    (`PqIndex.compactIfDelta`, same `vecDeltaShare` gate) plus the
    *    drift-refresh policy. The table is LOSSY, so its refresh needs
    *    the SOURCE embeddings — pass `embeddings` (the same relation
    *    the steps got; candidates are re-derived from the decision
    *    table). Refresh fires when the raw index RETRAINED this pass
    *    (the shared coarse layout moved — the code table must re-encode
    *    under the new centroids or the two stores' cells desync) or
    *    when the table's own [[graft.operators.PqIndex.cellSkew]]
    *    passes `pqMaxCellShare`. Without `embeddings` the PQ-skew
    *    refresh cannot run (compact-only maintenance), and a vec
    *    retrain that WOULD desync the stores fails loudly BEFORE
    *    mutating anything — maintain refuses to retrain a shared
    *    layout it cannot re-encode.
    *
    *  - the decision and fingerprint tables: each [[step]]'s partition
    *    publish writes task-count files into the touched batches and
    *    nothing else ever compacts them, so over years of daily steps
    *    they accrue exactly the small-file debt the sig gate measures —
    *    same measure (one listing), same `sigRelayShare` threshold,
    *    same partition-preserving crash-atomic re-lay.
    *
    * The chunk-loop tables swap wholesale on their own writes and need
    * no periodic pass.
    *
    * @return what fired this pass ([[MaintainReport]]) — every gated
    *         mutation's trigger outcome plus the measured skew and
    *         alignment the decisions were based on, so a scheduler can
    *         log/alert on maintenance activity without re-probing
    *
    * RETENTION is a separate call ([[retireDecisions]]) — it takes the
    * same driver lease, so schedule it in the same maintenance window,
    * not inside this pass. */
  def maintain(spark: SparkSession, dir: String,
               lexGcShare: Double = 0.0, lexGcGraceMs: Long = ReaderGraceMs,
               vecDeltaShare: Double = 0.2, vecMaxCellShare: Double = 0.5,
               vecGcGraceMs: Long = ReaderGraceMs,
               embeddings: Option[DataFrame] = None,
               pqMaxCellShare: Double = 0.5,
               sigRelayShare: Double = 0.5): MaintainReport =
   Lease.withLease(spark, dir, "maintain") {
    import graft.operators.{PqIndex, VecIndex}
    val vdir = vecIndexDir(dir)
    val pqdir = pqIndexDir(dir)
    val vecLive = VecIndex.currentVersion(spark, vdir) > 0L
    val pqLive = vecLive && PqIndex.currentVersion(spark, pqdir) > 0L
    // ONE skew measurement drives the retrain policy — and, when a PQ
    // table is paired, the no-source guard (compact preserves the row
    // set, so the value cannot change between here and the retrain).
    val skew = if (vecLive) VecIndex.cellSkew(spark, vdir) else 0.0
    // alignment BEFORE this pass mutates anything: false means a
    // PRIOR pass desynced the stores (a crash between a committed
    // retrain and its refresh publish) and only a source re-encode
    // heals it — the quantizer-sized comparison is this pass's
    // persisted memory of that debt
    val alignedBefore = !pqLive || pqCoarseAligned(spark, vdir, pqdir)
    if (pqLive) {
      // correctness guards FIRST, before ANY store is touched (the lex
      // compact below included — a refused maintain mutates nothing),
      // both loud: a retrain THIS pass would move the coarse layout
      // both stores share, and the lossy code table can only follow by
      // re-encoding from source; a PERSISTED desync from a prior
      // crashed pass must equally not be silently compacted over —
      // either way, with no source in hand refuse up front rather than
      // leave (or deepen) the desync
      require(skew <= vecMaxCellShare || embeddings.nonEmpty,
        s"vec index needs a retrain (cell skew $skew > $vecMaxCellShare) " +
          s"but the driver maintains a PQ code table and no embeddings " +
          s"source was passed — the re-celled layout could not be " +
          s"re-encoded; call maintain with embeddings")
      require(alignedBefore || embeddings.nonEmpty,
        s"vec index and PQ code table under $dir are DESYNCED (the PQ " +
          s"coarse quantizer no longer matches the raw index's " +
          s"centroids — a prior pass's retrain committed without its " +
          s"refresh) and no embeddings source was passed; every " +
          s"pqDepth search falls back to the exact scan until a " +
          s"refresh re-encodes — call maintain with embeddings")
      // mis-assembled deployment, detectable up front: a PQ refresh
      // derives the shared coarse layout from the vec index's PERSISTED
      // quantizer, so a pairing without one could only fail mid-pass
      // (after stores already mutated) — refuse here instead
      require(VecIndex.openCentroids(spark, vdir).nonEmpty,
        s"vec index under $vdir has no persisted quantizer but a PQ code " +
          s"table is paired with it — its refresh could never re-derive " +
          s"the shared coarse layout; build the vec index with " +
          s"persistCentroids=true (the driver's init does)")
    }
    val lexCompacted = graft.operators.LexIndex.compactIfGarbage(spark,
      lexDir(dir), lexGcShare, lexGcGraceMs)
    // the signature re-layout is GATED ON MEASURED DEBT like every
    // other mutation in this pass: each step appends ~one task-count
    // of files into its batch partition, and the re-lay's value is
    // collapsing them to one file per batch — so the debt measure is
    // the share of data files a re-lay would remove (1 − groups/files,
    // from ONE directory listing). Below the threshold the listing is
    // the whole cost; the old behavior paid a corpus-proportional
    // rewrite on EVERY pass, debt or not.
    // the decision and fingerprint tables accrue the SAME small-file
    // debt as the sig index (each step's partition publish writes
    // task-count files into the touched batches; nothing else ever
    // compacts them over years of daily steps) — one measure, one
    // gate, one partition-preserving crash-atomic re-lay for all three
    val (sigRelaid, sigFileDebt) =
      relayIfDebt(spark, indexDir(dir),
        openSigIndexBatched(spark, dir), sigRelayShare)
    val (decRelaid, decFileDebt) =
      relayIfDebt(spark, decisionsDir(dir),
        openDecisionsBatched(spark, dir), sigRelayShare)
    val (fpsRelaid, fpsFileDebt) =
      if (pathExists(spark, fpsDir(dir)))
        relayIfDebt(spark, fpsDir(dir),
          openFpsBatched(spark, dir), sigRelayShare)
      else (false, 0.0)
    // ONE maintenance sequence serves both shapes: measure, compact,
    // retrain-if-skewed, gc — the PQ pairing only ADDS the alignment
    // guards and the refresh, never a second copy of the vec policy.
    var vecCompacted = false; var retrained = false
    var pqCompacted = false; var pqRefreshed = false
    var pqSkew = 0.0
    if (vecLive) {
      retrained = skew > vecMaxCellShare
      // a retrain re-cells base+delta wholesale and retires the epoch —
      // it IS a fold, so running compactIfDelta first would rewrite the
      // corpus twice and double the superseded garbage for one pass
      if (retrained)
        VecIndex.retrain(spark, vdir, "doc_id", "embedding", k = VecCells)
      else
        vecCompacted = VecIndex.compactIfDelta(spark, vdir, "doc_id",
          vecDeltaShare, vecGcGraceMs)
      // gc runs UNCONDITIONALLY: retrain publishes a full superseded
      // cells+centroids version but only compact sweeps — a
      // drift-heavy, append-light driver would otherwise strand a
      // corpus-sized copy per retrain forever. A no-garbage sweep is a
      // driver-side listing.
      VecIndex.gc(spark, vdir, vecGcGraceMs)
      if (pqLive) {
        // The refresh trigger is PERSISTED state, not only this pass's
        // retrain flag: `alignedBefore` is the content-wise comparison
        // of the PQ quantizer's coarse half against the raw index's
        // centroids, so a crash (or a quantFrom failure) between a
        // committed retrain and the refresh publish re-arms the refresh
        // on every later pass until it lands — an in-memory flag alone
        // would forget the debt and the code table would stay encoded
        // under the retired layout FOREVER, silently degrading every
        // pqDepth search. `retrained` covers the move THIS pass made.
        pqSkew = PqIndex.cellSkew(spark, pqdir)
        val needRefresh = retrained || !alignedBefore ||
          pqSkew > pqMaxCellShare
        if (needRefresh && embeddings.nonEmpty) {
          // re-encode the CURRENT candidates from source under the raw
          // index's (possibly just-retrained) pinned centroids — one
          // assignment, two stores, same as init/step
          val candIds = openDecisions(spark, dir)
            .filter(col("quality_pass") && col("contam_pass"))
            .select(col("doc_id"))
          val candEmb = embeddings.get.join(candIds, Seq("doc_id"))
          // coverage guard (reembed/restore's mirror): a PARTIAL
          // embeddings relation would silently shrink the code table
          // relative to the raw index — every missing doc drops out of
          // ADC nomination forever while status keeps reporting
          // aligned=true. Refuse loudly instead; when this fires after
          // a retrain already committed this pass, the stores are left
          // in the re-armed desync shape a crashed refresh leaves
          // (searches fall back to the exact scan, `alignedBefore`
          // re-arms the refresh), repaired by a later maintain with a
          // covering source.
          for (raw <- VecIndex.tryOpen(spark, vdir)) {
            val missing = raw.select(col("doc_id"))
              .join(candEmb.select(col("doc_id")), Seq("doc_id"), "left_anti")
            require(missing.isEmpty,
              s"embeddings do not cover every document the raw index " +
                s"under $vdir serves — a PQ refresh from this source " +
                s"would silently drop documents from ADC nomination; " +
                s"missing e.g. ${missing.limit(5).collect().mkString(", ")}")
          }
          // NOT renumbered: the raw index's rows already carry these
          // cid values (retrain committed them, contiguous by its own
          // contract) — renumbering here would silently desync the
          // stores; a gap from any other quantizer source still fails
          // loudly in quantFrom
          val cents = VecIndex.openCentroids(spark, vdir).getOrElse(
            throw new IllegalStateException(
              s"vec index under $vdir has no persisted quantizer but its " +
                s"paired PQ code table needs a refresh — the shared coarse " +
                s"layout cannot be re-derived; build the vec index with " +
                s"persistCentroids=true (the driver's init does)"))
            .localCheckpoint()
          // persist, NOT localCheckpoint: corpus-sized and scanned by
          // the trainer AND the encode — lineage kept so a lost
          // executor recomputes instead of failing the refresh (see
          // init's identical note)
          val assigned = VecIndex
            .assignFold(candEmb, "doc_id", "embedding", cents)
            .select(col("doc_id"), col("embedding"), col("cid"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try
            PqIndex.refreshAssigned(assigned, "doc_id", "embedding",
              PqIndex.quantFrom(cents, assigned, "doc_id", "embedding",
                PqSubspaces, PqCodebookK, PqIters),
              pqdir, vecGcGraceMs)
          finally assigned.unpersist()
          pqRefreshed = true
        } else {
          // a PQ-cell-skew trigger without a source falls back to the
          // fold — safe, because the guards above rejected every
          // DESYNC case: reaching here un-refreshed means the stores
          // are aligned and only the code table's own delta is due;
          // the fold alone never desyncs
          pqCompacted = PqIndex.compactIfDelta(spark, pqdir, "doc_id",
            vecDeltaShare, vecGcGraceMs)
        }
        PqIndex.gc(spark, pqdir, vecGcGraceMs)
      }
    }
    MaintainReport(lexCompacted, sigRelaid, vecCompacted, retrained,
      pqCompacted, pqRefreshed, skew, pqSkew, alignedBefore, sigFileDebt,
      decRelaid, decFileDebt, fpsRelaid, fpsFileDebt)
   }

  /** RETENTION boundary for the LIVE decision table: fold every batch
    * partition older than the newest `keepBatches` arrival days into
    * the BASE partition (`batch=0`, day 0's own key) in one
    * crash-atomic [[graft.operators.PartitionSwap]] publish (staged
    * base + the folded days in the marker's drop list — a crash at any
    * point leaves the complete old or complete new table). A
    * years-horizon driver otherwise carries every arrival day as a
    * live partition forever: listing and swap-census costs then grow
    * with table AGE instead of with daily work. The live table only
    * needs RECENT grain — [[step]]/[[forget]] prune on the partitions
    * their deltas touch, and the full per-day history is already
    * sealed in the [[snapshot]] store — so reads are IDENTITY (same
    * rows; [[openDecisions]] never exposes the batch key; the staged
    * scan itself partition-prunes to the folded span). The documented
    * trade: later work whose component/victim set reaches BEHIND the
    * horizon re-stages the base partition (corpus-share) instead of
    * one day's — size `keepBatches` past the near-dup pairing horizon
    * so that stays rare. Idempotent (a replay finds nothing older than
    * the horizon); returns the number of partitions folded, 0 meaning
    * no write happened at all. Takes the driver lease — schedule it in
    * the maintenance window, not inside a [[maintain]] pass; like every
    * maintenance mutation, no step/stream in flight. */
  def retireDecisions(spark: SparkSession, dir: String,
                      keepBatches: Int): Long =
   Lease.withLease(spark, dir, "retire-decisions") {
    require(keepBatches >= 0, s"keepBatches must be >= 0: $keepBatches")
    val dd = decisionsDir(dir)
    refoundPartitioned(spark, openDecisionsBatched(spark, dir), dd)
    val prevB = openDecisionsBatched(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dd)
    val f = fsOf(spark, p)
    if (!f.exists(p)) return 0L
    val batches = f.listStatus(p).map(_.getPath.getName)
      .collect { case s if s.startsWith("batch=") =>
        s.stripPrefix("batch=").toLong }
      .filter(_ != 0L).sorted
    val fold = batches.dropRight(keepBatches)
    if (fold.isEmpty) return 0L
    val maxFold = fold.last
    PartitionSwap.swap(spark, dd,
      drop = fold.map(b => s"batch=$b").toSeq) { stage =>
      // the base's rows plus every foldable day, re-keyed to the base —
      // a range predicate so the staged scan partition-prunes to
      // exactly the folded span (batch 0 included; the kept recent
      // grain is never read)
      prevB.filter(col("batch") <= maxFold)
        .withColumn("batch", lit(0L))
        .write.partitionBy("batch").parquet(stage)
    }
    fold.length.toLong
   }


  /** A batch-partitioned table's small-file debt: the share of its
    * data files a re-lay would remove (1 − partition groups / files) —
    * ONE directory listing, the measurement [[maintain]]'s re-lay
    * gates and [[status]]'s rows read. Root-level files (the flat
    * empty table a total takedown leaves) count as one group. */
  private def fileDebtOf(spark: SparkSession, path: String): Double = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, dst)
    if (!fs.exists(dst)) return 0.0
    var files = 0L; var groups = 0L; var rootFiles = 0L
    for (st <- fs.listStatus(dst)) {
      if (st.isDirectory && st.getPath.getName.startsWith("batch=")) {
        groups += 1
        files += fs.listStatus(st.getPath)
          .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      } else if (st.isFile && st.getPath.getName.endsWith(".parquet"))
        rootFiles += 1
    }
    if (rootFiles > 0) { groups += 1; files += rootFiles }
    if (files == 0L) 0.0 else 1.0 - groups.toDouble / files
  }

  private def sigFileDebtOf(spark: SparkSession, dir: String): Double =
    fileDebtOf(spark, indexDir(dir))

  /** [[maintain]]'s gated re-lay, shared by the three batch-partitioned
    * tables: measure the small-file debt (one listing); past the
    * threshold, re-lay under the same crash-atomic discipline as the
    * wholesale writers — the compacted copy is fully durable under tmp
    * (and fenced by the commit marker) before the layout it replaces
    * is touched. Batch partitioning is PRESERVED ([[forget]]'s
    * partition pruning depends on it): one file per batch,
    * doc-id-clustered within. A pure re-layout — row identity asserted
    * by DailyDriverApiSpec/DailyDriverDecGateSpec.
    * @return (fired, measured debt) */
  private def relayIfDebt(spark: SparkSession, path: String,
                          open: => DataFrame,
                          threshold: Double): (Boolean, Double) = {
    val debt = fileDebtOf(spark, path)
    val fired = debt > threshold
    if (fired) {
      val live = open.repartition(col("batch"))
        .sortWithinPartitions(col("batch"), col("doc_id"))
      AtomicSwap.swap(spark, path) { tmp =>
        live.write.partitionBy("batch").parquet(tmp)
      }
    }
    (fired, debt)
  }

  /** [[forget]]'s partition-pruned victim removal, shared by the
    * batch-partitioned sig and fps tables: one column-pruned census
    * finds the victim-bearing arrival days, only those partitions move
    * (emptied ones dropped through the PartitionSwap marker), and a
    * takedown emptying the WHOLE table swaps in the flat empty shape
    * instead — a partitioned table with zero partitions cannot carry
    * its schema, and later opens/probes must keep working until the
    * next step's append re-founds the layout. Probe-cost no-op on a
    * replay (no victims anywhere → empty census). */
  private def pruneVictimBatches(spark: SparkSession, path: String,
                                 tableB: DataFrame, vIds: DataFrame): Unit = {
    val hit = tableB.join(vIds, Seq("doc_id"), "left_semi")
      .select(col("batch")).distinct().collect().map(_.getLong(0))
    if (hit.nonEmpty) {
      val survivors = tableB.filter(col("batch").isin(hit.toSeq: _*))
        .join(vIds, Seq("doc_id"), "left_anti")
        .localCheckpoint() // read twice: batch census + staged write
      val live = survivors.select(col("batch")).distinct()
        .collect().map(_.getLong(0)).toSet
      val untouched = tableB.select(col("batch")).distinct()
        .filter(!col("batch").isin(hit.toSeq: _*)).limit(1).count() > 0L
      if (!untouched && live.isEmpty)
        AtomicSwap.swap(spark, path) { tmp =>
          survivors.write.parquet(tmp)
        }
      else
        PartitionSwap.swap(spark, path,
          drop = (hit.toSet -- live).toSeq.sorted.map(b => s"batch=$b")) {
          stage => survivors.write.partitionBy("batch").parquet(stage)
        }
    }
  }

  /** What a [[maintain]] pass actually did: each flag true iff the
    * corresponding gated mutation FIRED (false = measured under its
    * threshold, or the store does not exist). `vecCellSkew`,
    * `pqCellSkew` and `pqAlignedBefore` are the measurements the pass
    * decided on — `pqAlignedBefore = false` is the persisted-desync
    * re-arm signal ([[hybridSearch]]'s PQ gate reads the same
    * comparison), and `pqCellSkew` past the threshold with
    * `pqRefreshed = false` means a refresh is OVERDUE but had no
    * source: the next call should pass embeddings. */
  final case class MaintainReport(lexCompacted: Boolean, sigRelaid: Boolean,
                                  vecCompacted: Boolean, vecRetrained: Boolean,
                                  pqCompacted: Boolean, pqRefreshed: Boolean,
                                  vecCellSkew: Double, pqCellSkew: Double,
                                  pqAlignedBefore: Boolean,
                                  sigFileDebt: Double,
                                  decRelaid: Boolean = false,
                                  decFileDebt: Double = 0.0,
                                  fpsRelaid: Boolean = false,
                                  fpsFileDebt: Double = 0.0)

  /** One store's row in the [[status]] readout. `debtShare` is the
    * store's gated-maintenance debt: current-delta share for the LSM
    * vector stores, gc-eligible superseded-garbage share for the
    * lexical index, 0 for the swap-managed tables (they replace
    * wholesale and carry no debt). `cellSkew` is the hottest-cell
    * occupancy share (vector stores only). `aligned` is meaningful on
    * the `pq_index` row only: whether the code table's coarse quantizer
    * content-equals the raw index's centroids — [[maintain]]'s refresh
    * trigger and [[hybridSearch]]'s PQ-path gate read the same
    * comparison. */
  final case class StoreStatus(store: String, live: Boolean, version: Long,
                               epoch: Long, debtShare: Double,
                               cellSkew: Double, aligned: Boolean)

  /** Operability readout of the driver-maintained stores — the
    * poll a scheduler makes BEFORE deciding how to run the next
    * [[maintain]] (aligned=false or cellSkew past the threshold → the
    * pass needs the source embeddings; high debtShare → a compact will
    * fire). Metadata probes and content summaries only: manifests, two
    * file-listing summaries per LSM store, and one column-pruned cid
    * scan per vector store — never a corpus read, so polling every
    * window is noise. Read-only: no lease is taken and nothing is
    * repaired or mutated.
    *
    * The lexical debt is the GC-ELIGIBLE share under `graceMs` (default
    * [[ReaderGraceMs]], matching [[maintain]]'s default gate) — the
    * share a default maintain could actually reclaim NOW, so a policy
    * on it never loops on fresh garbage the grace still protects.
    *
    * Snapshot semantics: each row's version+epoch come from ONE
    * manifest read, but the measured shares are separate probes — a
    * publish racing the poll can pair one field's value with the next
    * manifest's. Fine for a monitoring readout (the next poll
    * converges); a strictly consistent view requires holding the
    * store's lease. */
  def status(spark: SparkSession, dir: String,
             graceMs: Long = ReaderGraceMs): Seq[StoreStatus] = {
    import graft.operators.{LexIndex, PqIndex, VecIndex}
    def exists(p: String): Boolean = pathExists(spark, p)
    val vdir = vecIndexDir(dir)
    val pqdir = pqIndexDir(dir)
    val lexV = LexIndex.currentVersion(spark, lexDir(dir))
    val vecM = VecIndex.currentManifest(spark, vdir)
    val pqV = PqIndex.currentVersion(spark, pqdir)
    val snapVersions = graft.operators.Snapshots.versions(spark, snapshotsDir(dir))
    // a PQ table paired with a QUANTIZER-LESS vec index is reported
    // unaligned, not healthy: [[maintain]] refuses such a pairing up
    // front (the shared coarse layout can never be re-derived), so the
    // poll must flag it rather than tell the scheduler all is green
    // while every maintain throws
    val aligned = vecM.v == 0L || pqV == 0L ||
      (graft.operators.VecIndex.openCentroids(spark, vdir) match {
        case None => false // mis-assembled pairing — maintain refuses it
        case Some(c) => pqCoarseAligned(spark, pqdir, collectCoarse(c))
      })
    Seq(
      StoreStatus("decisions", exists(decisionsDir(dir)), 0L, 0L,
        fileDebtOf(spark, decisionsDir(dir)), 0.0, aligned = true),
      StoreStatus("sig_index", exists(indexDir(dir)), 0L, 0L,
        sigFileDebtOf(spark, dir), 0.0, aligned = true),
      StoreStatus("lex_index", lexV > 0L, lexV, 0L,
        if (lexV > 0L) LexIndex.garbageShare(spark, lexDir(dir), graceMs)
        else 0.0,
        0.0, aligned = true),
      StoreStatus("vec_index", vecM.v > 0L, vecM.v,
        if (vecM.v > 0L) vecM.epoch else 0L,
        if (vecM.v > 0L) VecIndex.deltaShare(spark, vdir) else 0.0,
        if (vecM.v > 0L) VecIndex.cellSkew(spark, vdir) else 0.0,
        aligned = true),
      StoreStatus("pq_index", pqV > 0L, pqV,
        if (pqV > 0L) PqIndex.currentEpoch(spark, pqdir) else 0L,
        if (pqV > 0L) PqIndex.deltaShare(spark, pqdir) else 0.0,
        if (pqV > 0L) PqIndex.cellSkew(spark, pqdir) else 0.0,
        aligned),
      StoreStatus("fps", exists(fpsDir(dir)), 0L, 0L,
        if (exists(fpsDir(dir))) fileDebtOf(spark, fpsDir(dir)) else 0.0,
        0.0, aligned = true),
      // snapshots: version = latest sealed, epoch = how many are live
      // (retention debt a snapshotGc policy would read)
      snapVersions match {
        case Seq() => StoreStatus("snapshots", live = false, 0L, 0L, 0.0,
          0.0, aligned = true)
        case vs => StoreStatus("snapshots", live = true, vs.last,
          vs.size.toLong, 0.0, 0.0, aligned = true)
      })
  }

  /** Read-only dedup-health readout over the LIVE decision table —
    * q138's component-size profile served from driver state instead of
    * a curate rerun (the daily monitor form: one pass over 9 narrow
    * columns, O(distinct sizes) output). A creeping mega-component row
    * is the signal the near-dup threshold has stopped separating
    * distinct documents. Steps and forgets keep the underlying
    * components exact (their equivalence specs), so this equals the
    * from-scratch profile at every point in the driver's life. */
  def dedupProfile(spark: SparkSession, dir: String): DataFrame =
    openDecisions(spark, dir)
      .filter(col("quality_pass") && col("contam_pass"))
      .groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz"))
      .agg(count(lit(1)).as("n_components"), sum(col("sz")).as("n_docs"))
      .orderBy(col("sz"))

  /** EMBEDDING-MODEL MIGRATION: replace both vector stores' content
    * with `embeddings` from a NEW model (any dimension whose
    * [[PqSubspaces]] divisibility holds), zero-downtime. Under the
    * driver lease:
    *
    *  1. coverage guard — every id the raw index currently serves must
    *     appear in the new candidate embeddings (a silent shrink would
    *     drop documents from retrieval forever); fail loudly before
    *     touching anything
    *  2. train (or take) the new coarse quantizer over the CANDIDATES'
    *     new embeddings, then [[graft.operators.VecIndex.rebuild]]:
    *     new cells + new quantizer + a delta-epoch bump in ONE
    *     manifest rename — the old space's delta can never mix into a
    *     read, pinned readers keep their matched old pair, and a live
    *     append stream fails its next batch loudly
    *  3. where a code table exists (a pre-PQ deployment is never
    *     silently opted into one), re-derive the PQ quantizer from the
    *     same coarse layout and [[graft.operators.PqIndex
    *     .refreshAssigned]] it — same one-publish discipline, so the
    *     pair re-aligns; the new dimension's [[PqSubspaces]]
    *     divisibility is checked BEFORE step 2 commits anything
    *
    * Crash between 2 and 3 leaves the stores desynced exactly like a
    * crashed maintain retrain: [[hybridSearch]] falls back to the
    * always-correct exact scan, and replaying the call (or a
    * [[maintain]] pass given the NEW embeddings) repairs the
    * alignment. After a reembed, every subsequent [[step]]/[[maintain]]
    * must be fed the NEW model's embeddings — the old model's are a
    * different space (the same contract as a changed `cfg`: the caller
    * owns model identity).
    *
    * Cost: one candidates join + quantizer training + one re-cell and
    * one re-encode pass over the candidate embeddings — corpus-linear,
    * the floor for a model migration (the text-side stores are
    * untouched). */
  def reembed(spark: SparkSession, dir: String, embeddings: DataFrame,
              quantizer: Option[DataFrame] = None,
              gcGraceMs: Long = ReaderGraceMs): Unit =
   Lease.withLease(spark, dir, "reembed") {
    import graft.operators.VecIndex
    val vdir = vecIndexDir(dir)
    val pqdir = pqIndexDir(dir)
    require(VecIndex.currentVersion(spark, vdir) > 0L,
      s"no vector index under $vdir — reembed migrates an existing " +
        s"index; build one via init(..., embeddings) first")
    val decisions = openDecisions(spark, dir)
    // materialized once: the coverage probe, the dim preflight, the
    // quantizer training, and the rebuild all consume this relation —
    // left lazy, each would re-run the corpus-sized join
    val candEmb = embeddings.join(
      decisions.filter(col("quality_pass") && col("contam_pass"))
        .select(col("doc_id")), Seq("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // tryOpen: a forget-emptied index (version > 0, no rows) has
      // nothing to cover — requirePqDim's empty-set refusal is what
      // stops the degenerate rebuild itself (re-init is the recovery
      // for an emptied vector store, not a migration)
      for (old <- VecIndex.tryOpen(spark, vdir)) {
        val dropped = old.select(col("doc_id"))
          .join(candEmb.select(col("doc_id")), Seq("doc_id"), "left_anti")
        require(dropped.isEmpty,
          s"new embeddings do not cover every indexed document under $vdir " +
            s"— a reembed must not silently drop documents from retrieval; " +
            s"missing e.g. ${dropped.limit(5).collect().mkString(", ")}")
      }
      requirePqDim(spark, pqdir, candEmb)
      rebuildVectorStores(spark, dir, candEmb, quantizer, gcGraceMs)
    } finally candEmb.unpersist()
   }

  /** Preflight for a vector-half wholesale rebuild: refuse a PQ-paired
    * dir whose new embedding dimension cannot re-encode the code table
    * — run BEFORE any store mutates (quantFrom's own check fires only
    * after the raw rebuild committed, a half-migrated state no replay
    * could repair). */
  private def requirePqDim(spark: SparkSession, pqdir: String,
                           candEmb: DataFrame): Unit = {
    // the candidate set must be non-empty and dimension-UNIFORM for ANY
    // wholesale rebuild: an empty set would train and publish an empty
    // quantizer (every later append celled at the fold's sentinel,
    // silently unreachable by every probe) and a mixed-dimension set
    // would commit a raw index whose PQ refresh (or whose own dot
    // products) fails only AFTER the mutation — whole-set min/max, one
    // aggregate, so a single odd row can't slip past a first-row probe
    val dims = candEmb.agg(min(size(col("embedding"))).as("mn"),
      max(size(col("embedding"))).as("mx")).head
    require(!dims.isNullAt(0),
      "the candidate embedding set is empty — a wholesale vector " +
        "rebuild would publish an empty quantizer and strand the code " +
        "table; refusing before any store mutates")
    val (mn, mx) = (dims.getInt(0), dims.getInt(1))
    require(mn == mx,
      s"mixed embedding dimensions ($mn..$mx) in the rebuild source — " +
        s"refusing before any store mutates")
    if (graft.operators.PqIndex.currentVersion(spark, pqdir) > 0L)
      require(mx % PqSubspaces == 0,
        s"embedding dimension $mx does not divide into $PqSubspaces " +
          s"PQ subspaces — the paired code table under $pqdir could " +
          s"never be re-encoded; refusing before any store mutates")
  }

  /** The shared vector-half wholesale rebuild ([[reembed]] and
    * [[restore]]): train-or-take the coarse quantizer, [[graft
    * .operators.VecIndex.rebuild]], then refresh a live code table
    * reading the assignment BACK from the just-published cells (one
    * pruned parquet scan — rebuild already computed exactly those
    * (doc_id, embedding, cid) rows, so a second corpus-sized
    * assignFold pass would double the assignment cost for nothing).
    * Graced PQ gc: a concurrent search's pinned pair must outlive the
    * refresh (maintain's rule) unless the caller runs the offline
    * zero-grace discipline. Callers run [[requirePqDim]] and their own
    * coverage guards FIRST — this helper mutates. */
  private def rebuildVectorStores(spark: SparkSession, dir: String,
                                  candEmb: DataFrame,
                                  quantizer: Option[DataFrame],
                                  gcGraceMs: Long): Unit = {
    import graft.operators.{KMeans, PqIndex, VecIndex}
    val vdir = vecIndexDir(dir)
    val pqdir = pqIndexDir(dir)
    val cents = KMeans.contiguous(
      quantizer.getOrElse(KMeans.lloyd(candEmb, "doc_id", "embedding",
        k = VecCells, iters = 2)))
      .localCheckpoint()
    VecIndex.rebuild(candEmb, "doc_id", "embedding", cents, vdir)
    // PQ half only where one exists — a pre-PQ deployment is never
    // silently opted into a corpus-sized code table
    if (PqIndex.currentVersion(spark, pqdir) > 0L)
      VecIndex.tryOpen(spark, vdir).foreach { rebuilt =>
        val assigned = rebuilt
          .select(col("doc_id"), col("embedding"), col("cid"))
        PqIndex.refreshAssigned(assigned, "doc_id", "embedding",
          PqIndex.quantFrom(cents, assigned, "doc_id", "embedding",
            PqSubspaces, PqCodebookK, PqIters),
          pqdir, gcGraceMs)
      }
  }

  // ------------------------------------------------------- snapshots

  /** The live fingerprint table (doc_id, fp, len — the `batch`
    * partition key is storage layout, not audit state, same rule as
    * [[openDecisions]]) — repairs a torn [[forget]] swap AND an
    * interrupted partition-set publish first, like the other
    * swap-managed opens. */
  def openFingerprints(spark: SparkSession, dir: String): DataFrame =
    openFpsBatched(spark, dir).drop("batch")

  /** Seal the CURRENT decision table (plus each row's content
    * fingerprint) as the next snapshot version — the immutable record
    * a training run pins: "run T trained on snapshot v=N" stays
    * answerable after any number of later steps/forgets, via
    * [[openSnapshot]] (read it back), [[snapshotDiff]] (what changed
    * since), and [[verifySnapshot]] (is it still reproducible).
    *
    * Runs under the DRIVER lease, so the sealed rows are exactly one
    * decision-table version — never a mid-step interleaving of old
    * decisions with a half-landed day (the fingerprint join is
    * left-outer purely for the upgraded-mid-life dir whose `fps/`
    * started after day 0: those pre-upgrade rows seal with a null fp
    * rather than silently vanishing from the record).
    *
    * Cost: one O(decisions) comparison scan (the per-batch checksum
    * aggregate — narrow columns, no text) but a DELTA-PROPORTIONAL
    * write: only batches that changed since the previous seal are
    * physically copied ([[graft.operators.Snapshots.createIncremental]]
    * — unchanged batches are referenced where they already live, under
    * gc's delete-only refcount). Corpus text is never read (that's
    * what `fps/` is for). */
  def snapshot(spark: SparkSession, dir: String): Long =
    Lease.withLease(spark, dir, "snapshot") {
      // a pre-fps dir (upgraded mid-life, not yet stepped) has no
      // fingerprint table at all — seal with all-null fps rather than
      // crash on the missing path (the left-outer join covers the
      // partially-fingerprinted case once the first step lands)
      val fps =
        if (pathExists(spark, fpsDir(dir))) openFingerprints(spark, dir)
        else spark.range(0).select(col("id").as("doc_id"),
          lit(null).cast(org.apache.spark.sql.types.LongType).as("fp"),
          lit(null).cast(org.apache.spark.sql.types.LongType).as("len"))
      // the batch key seals too: [[restore]] re-founds the partitioned
      // decision layout from it (rows keep their home partitions, so a
      // restore never collapses history into one corpus-sized batch) —
      // and it is the INCREMENTAL seal's dedup grain: only batches whose
      // content changed since the previous seal are physically copied,
      // the rest are referenced where they already live, so the seal's
      // write cost is delta-proportional (steps touch few partitions)
      // instead of one corpus-rows copy per seal
      val rows = openDecisionsBatched(spark, dir)
        .join(fps, Seq("doc_id"), "left_outer")
      graft.operators.Snapshots.createIncremental(spark, snapshotsDir(dir),
        rows)
    }

  /** Sealed snapshot versions, ascending. */
  def snapshotVersions(spark: SparkSession, dir: String): Seq[Long] =
    graft.operators.Snapshots.versions(spark, snapshotsDir(dir))

  /** Read sealed snapshot `v` (decision columns + fp + len). */
  def openSnapshot(spark: SparkSession, dir: String, v: Long): DataFrame =
    graft.operators.Snapshots.open(spark, snapshotsDir(dir), v)

  /** Delta-sized change set between two sealed snapshots — one
    * `'removed'`/`'added'`/`'changed'` row per differing doc (see
    * [[graft.operators.Snapshots.diff]]). */
  def snapshotDiff(spark: SparkSession, dir: String, vA: Long,
                   vB: Long): DataFrame =
    graft.operators.Snapshots.diff(spark, snapshotsDir(dir), vA, vB)

  /** Audit sealed snapshot `v` against a live corpus relation: rows
    * whose text is gone or re-hashed differently; empty = the run's
    * corpus is still reproducible. */
  def verifySnapshot(spark: SparkSession, dir: String, v: Long,
                     docs: DataFrame): DataFrame =
    graft.operators.Snapshots.verify(spark, snapshotsDir(dir), v, docs)

  /** EXPORT sealed snapshot `v` as mounted training shards — the one
    * call from curation to a consumable training set: the sealed kept
    * docs, token-balance-dealt to shards and packed into context-window
    * bins ([[graft.operators.ShardExport.pack]]), written sealed and
    * immutable under the snapshot tree (`shards/v=N/r=K`, marker-
    * committed). Later [[step]]s never perturb it; a [[forget]] that
    * redacts `v` makes it stale and re-exports it over the survivors
    * automatically. `docs` must cover every kept sealed doc's text
    * (refusal, the restore convention). Read back via [[openShards]],
    * which refuses a stale export rather than serve forgotten chunks. */
  def exportShards(spark: SparkSession, dir: String, v: Long,
                   docs: DataFrame,
                   ctx: Int = graft.operators.ShardExport.DefaultCtx,
                   chunk: Int = graft.operators.ShardExport.DefaultChunk,
                   shards: Int = graft.operators.ShardExport.DefaultShards,
                   groups: Int = graft.operators.ShardExport.DefaultGroups): Unit =
    graft.operators.Snapshots.exportShards(spark, snapshotsDir(dir), v,
      docs, ctx, chunk, shards, groups)

  /** Sealed snapshot `v`'s shard manifest ([[exportShards]]). */
  def openShards(spark: SparkSession, dir: String, v: Long): DataFrame =
    graft.operators.Snapshots.openShards(spark, snapshotsDir(dir), v)

  /** Retention sweep over sealed history — [[graft.operators.Snapshots
    * .gc]] with the driver's reader-grace default. Retention is a
    * POLICY call (which versions training runs still pin is knowledge
    * only the owner has), so [[maintain]] never runs this implicitly. */
  def snapshotGc(spark: SparkSession, dir: String, keep: Long => Boolean,
                 graceMs: Long = ReaderGraceMs): Unit =
    graft.operators.Snapshots.gc(spark, snapshotsDir(dir), keep, graceMs)

  /** ROLL BACK the driver to sealed snapshot `v` — the recovery from a
    * bad curation day (a mis-set config, a poisoned delta) that sealing
    * exists to make possible: the sealed decision table becomes the
    * live one, and every DERIVED store is rebuilt to match it from the
    * current corpus relation. Under the driver lease:
    *
    *  1. derived stores first, decisions swap LAST (the forget
    *     ordering — the swap is the single commit point, so a torn
    *     restore replays to the same bytes): signature index and
    *     fingerprints by crash-atomic swap, the lexical index by
    *     [[graft.operators.LexIndex.rebuild]] (one-publish wholesale
    *     replacement), the vector stores by [[reembed]]'s machinery
    *     ([[graft.operators.VecIndex.rebuild]] + PQ refresh) when
    *     `embeddings` is given;
    *  2. fingerprints come from the SNAPSHOT itself (it sealed them) —
    *     text is only read for the index rebuilds.
    *
    * `docs` must cover every sealed doc id (the corpus relation the
    * sealed decisions describe — text that has since been hard-deleted
    * means those docs simply drop from the rebuilt text indexes, which
    * is the correct post-takedown shape). A dir whose vector index is
    * live REQUIRES `embeddings`, and they must cover every text-visible
    * sealed candidate — silently leaving post-`v` vectors serving
    * against rolled-back decisions, or silently dropping docs from the
    * vector half only, would be the exact desyncs this call exists to
    * undo; both refusals (and the PQ dimension check) run BEFORE any
    * store mutates. Restore cost = init's (wholesale rebuilds are
    * corpus-linear); the decisions/fps halves are O(sealed rows).
    *
    * After a restore, re-[[step]]ing the days that followed `v` is
    * legal (their ids are no longer in the decision table) — restore +
    * replayed steps ≡ the original history (DailyDriverRestoreSpec).
    *
    * @return the restored decision table (read back from storage) */
  def restore(spark: SparkSession, dir: String, v: Long, docs: DataFrame,
              embeddings: Option[DataFrame] = None,
              quantizer: Option[DataFrame] = None,
              gcGraceMs: Long = ReaderGraceMs): DataFrame =
   Lease.withLease(spark, dir, "restore") {
    import graft.operators.{LexIndex, Snapshots, VecIndex}
    val vdir = vecIndexDir(dir)
    val vecLive = VecIndex.currentVersion(spark, vdir) > 0L
    require(embeddings.nonEmpty || !vecLive,
      s"the driver's vector index is live — restore needs the corpus " +
        s"embeddings to rebuild it, or post-$v vectors would keep " +
        s"serving against the rolled-back decisions")
    // ... and the converse: a text-only driver must stay text-only — a
    // rollback silently CREATING a vector half (that no later
    // embeddings-less step would ever grow) is the reembed refusal's
    // mirror image
    require(embeddings.isEmpty || vecLive,
      s"no vector index under $vdir — restore rolls back existing " +
        s"stores; drop the embeddings argument, or init one first")
    // finish any interrupted delta-grain publish BEFORE the wholesale
    // overwrites below: a stale PartitionSwap marker left by a crashed
    // step must not replay its staged partitions onto the freshly
    // restored table at the next open
    PartitionSwap.repair(spark, decisionsDir(dir))
    PartitionSwap.repair(spark, indexDir(dir))
    val sealedRows = Snapshots.open(spark, snapshotsDir(dir), v)
      .localCheckpoint(true)
    require(sealedRows.columns.contains("batch"),
      s"snapshot v=$v seals no batch key — it was sealed by a " +
        s"pre-partitioned-layout engine; restore cannot re-found the " +
        s"partitioned decision table from it")
    val decB = sealedRows.select(
      (Curation.DecisionCols :+ "batch").map(col): _*)
    val dec = decB.drop("batch")
    // materialized: the coverage probe, signature write, lexical
    // rebuild, and the embedding join each consume this corpus-sized
    // relation — left lazy, restore would pay the docs ⋈ decisions
    // join four times over where the documented cost model says once
    val cand = candidates(docs, dec)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ALL preflight refusals before any store mutates — a
      // deterministic failure mid-sequence would leave the driver torn
      // on every retry, unlike a crash (whose replay converges)
      val candEmb = embeddings.map { emb =>
        val ce = emb.join(cand.select(col("doc_id")), Seq("doc_id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // embeddings must cover every TEXT-VISIBLE sealed candidate (a
        // doc whose text was hard-deleted since the seal legitimately
        // drops from every rebuilt store) — a partial source would
        // silently lose docs from the vector half only; the empty /
        // mixed-dimension refusals live in requirePqDim
        val missing = cand.select(col("doc_id"))
          .join(ce.select(col("doc_id")), Seq("doc_id"), "left_anti")
        require(missing.isEmpty,
          s"embeddings do not cover every sealed candidate — restore " +
            s"must not silently drop documents from retrieval; missing " +
            s"e.g. ${missing.limit(5).collect().mkString(", ")}")
        requirePqDim(spark, pqIndexDir(dir), ce)
        ce
      }
      try {
        AtomicSwap.swap(spark, indexDir(dir)) { tmp =>
          graft.streaming.StreamOps.signatureIndex(cand)
            .join(decB.select(col("doc_id"), col("batch")), Seq("doc_id"))
            .write.partitionBy("batch").parquet(tmp)
        }
        LexIndex.rebuild(
          graft.operators.UnigramLm.termFreq(cand, "doc_id", "text"),
          lexDir(dir))
        candEmb.foreach(ce =>
          rebuildVectorStores(spark, dir, ce, quantizer, gcGraceMs))
      } finally candEmb.foreach(_.unpersist())
      // fps re-founds partitioned from the seal — rows keep their home
      // batches like the decision table, so a restored dir's takedowns
      // prune the same arrival days they would have pre-restore
      AtomicSwap.swap(spark, fpsDir(dir)) { tmp =>
        sealedRows
          .select(col("doc_id"), col("fp"), col("len"), col("batch"))
          .write.partitionBy("batch").parquet(tmp)
      }
      AtomicSwap.swap(spark, decisionsDir(dir)) { tmp =>
        decB.write.partitionBy("batch").parquet(tmp)
      }
    } finally cand.unpersist()
    openDecisions(spark, dir)
   }

  /** A (cid, centroid) relation collected to cid-ordered float arrays —
    * the comparable form of a coarse quantizer (bounded: [[VecCells]]
    * rows). */
  private def collectCoarse(cents: DataFrame): Array[IndexedSeq[Float]] =
    cents.select(col("cid"), col("centroid")).collect()
      .sortBy(_.getAs[Number]("cid").intValue)
      .map(_.getSeq[Float](1).toIndexedSeq)

  /** Whether the PQ quantizer's coarse half content-equals the raw
    * index's CURRENT centroids — the persisted two-store alignment
    * signal [[maintain]]'s refresh trigger and [[hybridSearch]]'s
    * PQ-path gate read (both sides were written from the same relation
    * when aligned, so the float arrays compare bitwise). Two
    * quantizer-sized reads. */
  private def pqCoarseAligned(spark: SparkSession, vdir: String,
                              pqdir: String): Boolean =
    graft.operators.VecIndex.openCentroids(spark, vdir) match {
      case None => true // no quantizer — nothing to drift from
      case Some(c) => pqCoarseAligned(spark, pqdir, collectCoarse(c))
    }

  private def pqCoarseAligned(spark: SparkSession, pqdir: String,
                              vecCents: Array[IndexedSeq[Float]]): Boolean = {
    // g_cents is 1 subspace × nc cells × dim floats — unwrap the
    // single whole-vector subspace, then compare cell-by-cell
    val g = graft.operators.PqIndex.openQuant(spark, pqdir)
      .select(col("g_cents")).collect().head
      .getSeq[scala.collection.Seq[scala.collection.Seq[Float]]](0)
      .head.map(_.toIndexedSeq)
    g.length == vecCents.length &&
      g.indices.forall(i => g(i) == vecCents(i))
  }
}
