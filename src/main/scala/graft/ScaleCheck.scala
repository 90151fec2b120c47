package graft

import graft.operators.fsOf
import graft.sources.DriverParquet
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scaling-evidence harness: synthesizes a 10× copy of the sf0.1 tables
  * (keys shifted so cardinalities scale too) under target/, then times a
  * representative query slice at sf0.01 / sf0.1 / sf1-equivalent and
  * prints the observed scaling exponents. Linear-ish growth on the
  * aggregation/join/window slice is the evidence that the plan shapes
  * hold as data grows; the near-dup queries are excluded because their
  * OUTPUT is quadratic in corpus self-similarity by definition.
  */
object ScaleCheck {
  private val factor = 10

  private def synthesize(spark: SparkSession, src: String, dst: String): Unit = {
    val keyCols = Map(
      "lineitem" -> Seq("l_orderkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "customer" -> Seq("c_custkey"),
      "events" -> Seq("event_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    for (t <- Tables.names) {
      val df = Tables.load(spark, src, t)
      val out =
        if (keyCols.contains(t)) {
          val shifted = (0 until factor).map { i =>
            val keyed = keyCols(t).foldLeft(df)((d, k) =>
              d.withColumn(k, col(k) + lit(i.toLong * 100000000L)))
            // Documents: token-prefix every copy > 0 so the 10× corpus is
            // 10× DISTINCT documents. Verbatim copies would make every doc
            // a 10-way near-dup family and the near-dup queries' PAIR
            // OUTPUT would grow ~45× by construction — measuring output
            // explosion, not candidate-generation scaling.
            if (t == "documents" && i > 0)
              keyed.withColumn("text",
                array_join(transform(split(col("text"), " "),
                  tk => concat(lit(s"c$i"), tk)), " "))
            // Embeddings: rotate every copy > 0 by i positions so the 10×
            // corpus is 10× DISTINCT vectors (same rationale as the
            // document token-prefix). Verbatim copies would give every
            // vector 9 identical twins — 45× cos=1 pair families for the
            // dedup queries and degenerate self-matches for ANN — so the
            // rows would measure manufactured output, not plan growth.
            // Rotation preserves the norm and the marginal distribution.
            else if (t == "embeddings" && i > 0)
              keyed.withColumn("embedding",
                concat(slice(col("embedding"), i + 1, 64 - i),
                  slice(col("embedding"), 1, i)))
            else keyed
          }
          shifted.reduce(_ union _)
        } else df // dims stay dims — that is the point of a dimension
      out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val big = "target/sf_big"
    if (!new java.io.File(s"$big/lineitem.parquet").exists())
      synthesize(spark, "/root/testdata/sf0.1", big)
    val slice = Seq("q01_pricing_summary", "q02_superquery_union",
      "q11_islands", "q16_histogram", "q19_rollup", "q21_phase_fold",
      "q25_nearest_key", "q57_gauss_moments", "q60_multires_spectrum",
      "q63_transit_times", "q64_bilinear_gain",
      // iterative CC: rounds stay constant (component diameter is a graph
      // property, not a data-size property), per-round work linear
      "q66_dedup_groups",
      // curation battery: corpus-side work is map + scalable-key shuffles
      "q69_tfidf_terms", "q70_decontam_overlap", "q71_stratified_split",
      "q74_lang_sample", "q75_salted_join", "q76_hash_embed_topk",
      // remaining >1s queries: window/mask chains, 2-D ACF lag join,
      // ANN recall harness, trained-IVF train+search
      "q46_acf2d", "q51_badchunk_mask", "q72_ann_recall",
      "q77_ivf_trained_ann",
      // bucketed near-dup: NOTE the 10× synthetic replicates every doc
      // verbatim (ids shifted), so each doc gains 10 near-identical
      // copies and the PAIR OUTPUT grows ~quadratically in copy count by
      // construction — read these rows as candidate-generation cost, not
      // plan growth
      "q32_lsh_neardup_pairs", "q62_simhash_neardup",
      // the wide-signature mitigation for q62's occupancy growth
      "q78_simhash60_neardup",
      // curation battery 2: repetition stats (two doc-grain shuffles),
      // chunking (map-side explode), PII scrub (map-side regex), mixture
      // weights (source-keyed agg + broadcast dim), PQ-ADC (broadcast
      // codebook/probe tables, (q,vec)-keyed sum)
      "q83_repetition_stats", "q84_token_chunks", "q85_pii_scrub",
      "q86_domain_mixture", "q87_pq_adc_ann",
      // the end-to-end curation pipeline (quality + decontam + LSH +
      // keep-best CC + split in one DAG) — the heaviest single query
      "q79_curation_e2e",
      // sharded sequence packing; the incremental (prev + delta) pipeline
      "q88_sequence_packing", "q89_incremental_curation",
      // chunk-grain boilerplate detection: map-side explode + two keyed
      // shuffles at grains that grow linearly with the corpus
      "q91_chunk_boilerplate",
      // IVF-PQ: corpus side is one kernel scan; search reads nprobe/nc
      // of the code table through the broadcast cell join
      "q95_ivfpq_ann",
      // semantic dedup: the registered query derives k FROM the corpus
      // (constant per-cell occupancy — dedupAuto), so this row measures
      // the production shape; a fixed k=16 measured 20.7× here before
      // the occupancy-targeted default (the fixed-width-blocking trap)
      "q92_semantic_dedup",
      // curation battery 4: unigram-LM scoring (one tf-grain shuffle +
      // broadcast vocab dim), BPE pair stats (one corpus pass, then
      // vocab-grain), semantic decontam (map-side over a broadcast bench
      // array — the q70 shape in embedding space), cluster-balanced
      // sample (broadcast centroids + group-limit windows)
      "q96_unigram_lm", "q97_bpe_pairs", "q98_semantic_decontam",
      "q99_cluster_sample",
      // the battery-4 composition: LM keep ⨝ semantic-decontam flag on
      // the shared doc/vec id — verdict join keyed on a corpus-growing
      // grain, flagged side output-sized
      "q100_joint_curation",
      // cell-blocked range search: assignment argmin + broadcast probe
      // cells + filter — no top-k window; output is the open match set
      "q101_cell_range_search",
      // temperature mixture: one source-keyed corpus pass, then
      // source-dimension arithmetic (sorted-fold Σ√p)
      "q102_temperature_mixture",
      // filtered ANN: the label predicate is a join residual BEFORE the
      // top-k window (pre-filter semantics); q55's broadcast/cell shape
      "q103_filtered_ann",
      // chunked packing: map-side chunk explode + the q88 sharded window
      "q104_chunked_packing",
      // curation battery 5: DSIR importance (one pass to the (doc,bucket)
      // grain + broadcast B-row dim), NB classifier (tf-grain shuffle +
      // broadcast class×term model), balanced shards ((lang,grp)-keyed
      // rank + source-dim arithmetic), CDC chunking (map-side O(L·w)
      // boundary scan + chunk_hash-keyed occurrence count)
      "q105_dsir_sample", "q106_nb_classifier", "q107_balanced_shards",
      "q108_cdc_chunks",
      // CCNet terciles (q96's LM scoring + lang-keyed rank); CDC rewrite
      // (map-side kernel chunking + chunk_hash-keyed min + doc reassembly)
      "q109_ccnet_buckets", "q110_cdc_rewrite",
      // retrieval battery: BM25 (tf shuffle + broadcast query terms +
      // output-sized dl re-key), bigram LM (one bigram-tf-grain shuffle +
      // broadcast models), RRF (two workload×depth lists fused) — the
      // query sets are id-capped, so the synthetic grows only the corpus
      "q111_bm25_topk", "q112_bigram_lm", "q113_rrf_hybrid",
      // two-tier decontam: bloom gate (map-side bit probe) before the
      // exact sorted-intersect — q70's semantics, bench side grows with
      // the corpus in this synthetic (the q98 convention)
      "q114_bloom_decontam",
      // tokenizer loop: one corpus word-freq pass + vocab-grain merge
      // rounds, then a chain of map-side encode folds over the corpus
      "q115_bpe_encode",
      // split-hygiene audit: q78's banded pair generator + two map-side
      // split hashes on the pair output
      "q116_split_leakage",
      // decontam rewrite: map-side gram explode probed by the broadcast
      // bench set; only contaminated grams shuffle (output-sized)
      "q117_decontam_rewrite",
      // classifier scorecard: q106's prediction plan + classes²-bounded
      // confusion cells + class-dimension arithmetic
      "q118_nb_eval",
      // retrieval-quality harness: q111's scoring plan at depth 10 +
      // the banded pair generator + workload-sized list joins
      "q120_bm25_mrr",
      // index-backed hybrid: the row includes the INLINE index builds
      // (corpus-linear one-time cost the oracle gate requires in-query;
      // production amortizes them through merge/appendStream) — the
      // search halves are bucket/cell partition-pruned
      "q121_indexed_hybrid",
      // width-8 decontam audit: q70's broadcast-intersect shape, wider
      // per-row gram fold, bench side corpus-scaling here (q98 convention)
      "q122_decontam_width8",
      // sampled terciles: q96-shape scoring + a sample-sized rank window
      // + broadcast lang-keyed cuts — the no-corpus-window production form
      "q123_sampled_terciles",
      // nDCG: q120's plan + two literal-array lookups
      "q124_bm25_ndcg",
      // KMV sketches: one map-side-partial groupBy over the corpus,
      // O(groups·k) shuffle bytes; q129 adds an S²-pair broadcast join
      // of ~1 KiB sketch rows on top of the same scan
      "q125_kmv_cardinality", "q129_source_overlap",
      // value-grain quantiles: histogram groupBy + a window over distinct
      // lengths (bounded by value cardinality, not corpus size)
      "q126_exact_quantiles",
      // native session windows: one user-keyed shuffle + session merge
      "q127_session_window",
      // repetition signals: zero shuffle, pure per-row array algebra
      "q128_repetition_signals",
      // continuous-measure quantile sketch: one map-side-partial groupBy,
      // O(groups·k) shuffle bytes (≤k (hash,value) pairs per language) —
      // the bounded-state sibling of q126; growth here is the corpus scan
      "q130_quantile_sketch",
      // width-13 decontam: q70/q122's zero-corpus-shuffle broadcast
      // intersect with the widest per-row gram fold of the ladder
      "q131_decontam_width13",
      // per-source drift monitor: q130's sketch over (source, side) —
      // O(sources·2·k) shuffle state, growth is the one corpus scan
      "q133_source_drift")
    val dirs = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1", big)
    // warm
    SparkEntry.queries("q09_catalog_totals")(spark, dirs.head).count()
    if (args.contains("delta")) { // delta section only, for iteration
      incrementalDeltaCheck(spark, dirs)
      spark.stop()
      return
    }
    if (args.contains("bpe")) { // BPE trainer section only, for iteration
      bpeTrainCheck(spark, dirs)
      spark.stop()
      return
    }
    if (args.contains("driver")) { // daily-driver section only
      driverCheck(spark, dirs)
      driverAgingCheck(spark)
      spark.stop()
      return
    }
    if (args.contains("aging")) { // multi-day aging section only
      driverAgingCheck(spark)
      spark.stop()
      return
    }
    if (args.contains("adc")) { // IVFADC crossover section only
      adcCrossoverCheck(spark)
      spark.stop()
      return
    }
    // Optional args: query-name substrings re-measure a subset while
    // iterating (no args → the full slice, the committed-table protocol).
    val wanted =
      if (args.isEmpty) slice
      else slice.filter(n => args.exists(n.contains))
    val times = for (d <- dirs) yield {
      wanted.map { n =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, d).count()
        n -> (System.nanoTime() - t0) / 1e9
      }.toMap
    }
    println(f"${"query"}%-24s ${"sf0.01"}%8s ${"sf0.1"}%8s ${"sf1eq"}%8s  x(0.1->1)")
    for (n <- wanted) {
      val Seq(a, b, c) = times.map(_(n))
      println(f"$n%-24s $a%8.2f $b%8.2f $c%8.2f  ${c / b}%8.1fx")
    }
    if (args.isEmpty) {
      incrementalDeltaCheck(spark, dirs); bpeTrainCheck(spark, dirs)
      indexedSearchCheck(spark, dirs); driverCheck(spark, dirs)
      driverAgingCheck(spark); adcCrossoverCheck(spark)
    }
    if (args.contains("search")) indexedSearchCheck(spark, dirs)
    spark.stop()
  }

  /** The packaged daily pipeline at scale — the flagship API's own cost
    * split, not a query-battery proxy: day-0 `init` (full curate + all
    * three retrieval indexes, corpus-linear by design), one `step` (the
    * daily delta — cost ∝ delta + touched buckets/cells, NOT the
    * corpus), `maintain` (policy triggers + the forced vec fold), and
    * the recurring [[graft.pipelines.DailyDriver.hybridSearch]] batch
    * (query terms' buckets + probes' cells only — must stay near-flat
    * as the corpus grows). */
  private def driverCheck(spark: SparkSession, dirs: Seq[String]): Unit = {
    import graft.pipelines.{Curation, DailyDriver}
    println()
    println(f"${"daily driver"}%-24s ${"init"}%8s ${"step"}%8s ${"maint"}%8s ${"search"}%8s ${"pq"}%8s ${"status"}%8s ${"forget"}%8s ${"reembed"}%8s")
    for (d <- dirs) {
      spark.catalog.clearCache()
      val dir = s"target/scalecheck_driver/${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val dp = new org.apache.hadoop.fs.Path(dir)
      fsOf(spark, dp).delete(dp, true)
      val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
      val emb = Tables.embeddings(spark, d)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      // FIXED-SIZE delta and benchmark (id-capped — the id space is
      // dense from 0 at every sf dir): the flat-step claim is "step
      // cost flat in CORPUS size at fixed delta" — since the
      // partition-grain publish, a day's cost is ∝ the delta + touched
      // partitions, so the corpus axis must not leak in through a
      // corpus-share delta (or a corpus-share eval suite: a real
      // benchmark doesn't grow because the crawl did)
      val day0 = docs.filter(col("doc_id") % 10 =!= 7 ||
        col("doc_id") >= 6000)
      val delta = docs.filter(col("doc_id") % 10 === 7 &&
        col("doc_id") < 6000)
      val bench = docs.filter(col("doc_id") % 97 === 0 &&
        col("doc_id") < 6000)
      val cfg = Curation.Config(minQuality = 2.95)
      def timed[T](body: => T): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      val tInit = timed(DailyDriver.init(spark, day0, bench, dir, cfg,
        Some(emb.join(day0.select(col("doc_id")), Seq("doc_id")))))
      val tStep = timed(DailyDriver.step(spark, delta, bench, dir, cfg, Some(emb)))
      // vecDeltaShare = 0 forces the LSM fold so the maintenance number
      // includes a real compaction, not just the flat triggers
      val tMaint = timed(DailyDriver.maintain(spark, dir, vecDeltaShare = 0.0))
      // FIXED-size query batch (same 18 ids at every scale — the id
      // space is dense from 0 at all sf dirs): the flat-search claim is
      // about corpus growth at constant workload, so the workload must
      // not scale with the corpus like the bench slice does
      val qBatch = docs.filter(col("doc_id") % 29 === 0 && col("doc_id") < 500)
      val queries = qBatch.select(col("doc_id").as("q_id"), col("text"))
      val probes = emb.join(qBatch.select(col("doc_id")), Seq("doc_id"))
        .select(col("doc_id").as("q_id"), col("embedding"))
      val tSearch = timed(
        DailyDriver.hybridSearch(spark, dir, queries, probes).count())
      // the PQ production path at a bounded nomination depth (4× the
      // fused candidate depth): ADC over the code table + exact rerank
      // of only the nominations — the per-probe scoring cost is
      // ~pqDepth, not the probed cells' occupancy, so this must stay
      // as flat as (or flatter than) the exact column as cells fill up
      val tPq = timed(DailyDriver.hybridSearch(spark, dir, queries, probes,
        pqDepth = 40).count())
      // the tuning readout an owner picks production depths from:
      // recall@k vs the all-cells exact truth and wall time per
      // (nprobe, pqDepth) — the flat-search claim, now with the
      // recall axis attached (task: what does a bounded nomination
      // depth actually cost in tail recall as the corpus grows)
      for (r <- DailyDriver.hybridSearchReport(spark, dir, queries, probes)
             .orderBy(col("nprobe"), col("pq_depth")).collect())
        println(f"${s"  recall np=${r.getInt(0)} pq=${r.getInt(1)}"}%-24s " +
          f"${r.getDouble(3)}%8.3f ${r.getDouble(4)}%8.2f")
      // the scheduler's poll: the stores' manifests + summaries + one
      // cid scan per vector store — must stay near-flat (the cid scans
      // are column-pruned; everything else is metadata). The snapshots
      // row is legitimately not-live here: this driver never seals one.
      val tStatus = timed {
        val st = DailyDriver.status(spark, dir)
        require(st.length == 7 &&
          st.filter(_.store != "snapshots").forall(s => s.live && s.aligned),
          s"unhealthy driver state at $d: $st")
      }
      // FIXED-size takedown last (it mutates the stores the columns
      // above measured). forget is maintenance-class, not search-class:
      // the decision re-decide is ∝ the victims' components, but the
      // signature rewrite and the vector stores' fresh cells versions
      // are corpus-linear with a small constant — this column documents
      // that honestly (expect growth tracking maint, far under init)
      val victims = docs.filter(col("doc_id") % 29 === 5 && col("doc_id") < 200)
        .select(col("doc_id"))
      val tForget = timed(
        DailyDriver.forget(spark, victims, docs, dir, cfg).count())
      // model migration last (it replaces both vector stores): one
      // candidates join + quantizer training + one re-cell and one
      // re-encode pass — corpus-linear like init's vector half, the
      // honest floor for a model swap (expect it tracking init, never
      // search-class)
      val tReembed = timed(DailyDriver.reembed(spark, dir,
        emb.select(col("doc_id"),
          reverse(slice(col("embedding"), 1, 32)).as("embedding"))))
      println(f"${d.split('/').last}%-24s $tInit%8.2f $tStep%8.2f " +
        f"$tMaint%8.2f $tSearch%8.2f $tPq%8.2f $tStatus%8.2f $tForget%8.2f " +
        f"$tReembed%8.2f")
    }
  }

  /** Long-horizon aging: N daily steps against ONE driver dir with
    * `maintain` every k, a takedown (`forget`) every j, a sealed
    * snapshot every m (retention: keep the last two, gc'd in the
    * maintain slot), AND one mid-life EMBEDDING-MODEL MIGRATION
    * (`reembed` at the marked step: 64-dim → reversed 32-dim — every
    * later step/maintain/search runs in the new space) — the proof
    * that the policies keep BOTH the recurring costs and the on-disk
    * state flat in N with retractions, history sealing, and a model
    * swap interleaved, which a one-step measurement cannot show. One
    * marked day arrives as a STREAM (micro-batched [[DailyDriver
    * .stepStream]] + day-end reconcile) — the continuous-ingest path
    * aging inside the same lifecycle instead of only in its spec. Per
    * step: step time, the recurring hybrid search in both forms (exact
    * in-cell and the PQ production depth), and the LIVE FILE COUNT
    * under the driver dir (offline-discipline gc, grace 0 — retired
    * epochs/versions, delete-superseded versions, and retired
    * snapshots must not accumulate). The snap column is the
    * O(decisions) seal — corpus-share-flat, never a text scan. */
  private def driverAgingCheck(spark: SparkSession): Unit = {
    import graft.pipelines.{Curation, DailyDriver}
    val d = "/root/testdata/sf0.01"
    val steps = 12
    val maintainEvery = 4
    val forgetEvery = 5
    val snapEvery = 3
    val reembedAt = 7
    val streamAt = 11 // this day arrives as a STREAM (stepStream + reconcile)
    println()
    println(f"${"driver aging (sf0.01)"}%-24s ${"step"}%8s ${"search"}%8s ${"pq"}%8s ${"maint"}%8s ${"forget"}%8s ${"snap"}%8s ${"migr"}%8s ${"files"}%8s ${"decB"}%5s")
    spark.catalog.clearCache()
    val dir = "target/scalecheck_driver_aging"
    val dp = new org.apache.hadoop.fs.Path(dir)
    val hfs = fsOf(spark, dp)
    hfs.delete(dp, true)
    def files(): Long = {
      if (!hfs.exists(dp)) return 0L
      val it = hfs.listFiles(dp, true)
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
    // live decision-table partition count — the retention boundary's
    // readout: bounded across the run (base + recent grain), where an
    // unretired table carries one partition per arrival day forever
    def decParts(): Long = {
      val d = new org.apache.hadoop.fs.Path(s"$dir/decisions")
      if (!hfs.exists(d)) 0L
      else hfs.listStatus(d).count(_.getPath.getName.startsWith("batch="))
    }
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    // the post-migration model: different dimension AND geometry
    val emb2 = emb.select(col("doc_id"),
      reverse(slice(col("embedding"), 1, 32)).as("embedding"))
    var curEmb = emb
    val mod = 2L * steps // day0 = half the corpus, each step 1/(2·steps)
    val day0 = docs.filter(col("doc_id") % mod >= steps)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val cfg = Curation.Config(minQuality = 2.95)
    val qBatch = docs.filter(col("doc_id") % 29 === 0 && col("doc_id") < 500)
    val queries = qBatch.select(col("doc_id").as("q_id"), col("text"))
    def probesOf(e: org.apache.spark.sql.DataFrame) =
      e.join(qBatch.select(col("doc_id")), Seq("doc_id"))
        .select(col("doc_id").as("q_id"), col("embedding"))
    var probes = probesOf(emb)
    def timed[T](body: => T): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val tInit = timed(DailyDriver.init(spark, day0, bench, dir, cfg,
      Some(emb.join(day0.select(col("doc_id")), Seq("doc_id")))))
    println(f"${"init"}%-24s $tInit%8.2f ${""}%8s ${""}%8s ${""}%8s ${""}%8s ${""}%8s ${""}%8s ${files()}%8d ${decParts()}%5d")
    for (i <- 0 until steps) {
      val delta = docs.filter(col("doc_id") % mod === i.toLong)
      // one day arrives as a STREAM: micro-batches through stepStream's
      // ingest gate + live index appends, then the day-end reconcile —
      // the packaged continuous-ingest path aging in the same lifecycle
      // (its step column is feed + reconcile, apples-to-apples with the
      // batch days; DailyDriverStreamSpec proves the store equality)
      val tStep =
        if (i + 1 == streamAt) timed {
          import spark.implicits._
          implicit val sqlCtx: org.apache.spark.sql.SQLContext =
            spark.sqlContext
          val ckpt = s"target/scalecheck_stream_ckpt"
          hfs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
          val input = org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[(java.sql.Timestamp, Long, String)]
          val arrivals = input.toDF().toDF("event_time", "doc_id", "text")
          // harness feed prep (collecting the day's rows to drive the
          // MemoryStream) is NOT stream-start cost — time it outside
          // the split so the published 'start' number is stepStream's
          // own pin + benchmark-collect work only
          val rows = delta.select(col("doc_id"), col("text"))
            .as[(Long, String)].collect().sortBy(_._1)
          val t0s = System.nanoTime()
          val h = DailyDriver.stepStream(spark, arrivals, bench, dir, ckpt,
            cfg, Some(curEmb))
          val t1s = System.nanoTime()
          // FEED DIAGNOSTIC (the round-12 open question: the same feed
          // read 8.6 s in a fresh JVM but 41 s late in a long process —
          // name the component). Split the feed wall into executor task
          // time (sum/cores ≈ the parallel compute floor), JVM GC, and
          // the remainder = DRIVER-side per-job overhead (planning,
          // micro-batch scheduling, listener/codegen state) — the part
          // that ages with process lifetime.
          import java.lang.management.ManagementFactory
          import scala.jdk.CollectionConverters._
          def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
            .asScala.map(_.getCollectionTime).sum
          val gc0 = gcMs()
          val (_, feedJobs) = graft.obs.JobCosts.during(spark) {
            rows.grouped(math.max(1, rows.length / 3 + 1)).zipWithIndex
              .foreach { case (g, gi) =>
                input.addData(g.zipWithIndex.map { case ((id, t), j) =>
                  (new java.sql.Timestamp(1000L * (100 + gi * 10000 + j)), id, t)
                })
                h.all.foreach(_.processAllAvailable())
              }
            h.stopAll()
          }
          val t2s = System.nanoTime()
          val gcFeed = (gcMs() - gc0) / 1e3
          val feedWall = (t2s - t1s) / 1e9
          // the REAL task-slot count (not the host's processor count —
          // a local[N] below the core count would understate the
          // compute floor and inflate the driver-overhead column this
          // diagnostic exists to isolate)
          val cores = spark.sparkContext.defaultParallelism
          val taskPar = feedJobs.map(_.runMs).sum / 1e3 / cores
          println(f"  [feed diag: jobs ${feedJobs.size}%d tasks ${feedJobs.map(_.tasks).sum}%d " +
            f"taskTime/cores $taskPar%.1f gc $gcFeed%.1f " +
            f"driverOverhead ${math.max(0.0, feedWall - taskPar - gcFeed)}%.1f " +
            f"of $feedWall%.1f s]")
          // lex LSM debt at day end, before the reconcile retires it —
          // the delta-share readout the vector stores' deltaShare
          // column already has
          println(f"  [lex delta: share " +
            f"${graft.operators.LexIndex.deltaShare(spark, s"$dir/lex_index")}%.3f " +
            f"batches ${graft.operators.LexIndex.deltaBatchPaths(spark, s"$dir/lex_index").size}%d]")
          DailyDriver.stepStreamReconcile(spark, bench, dir, cfg,
            Some(curEmb))
          // the cost split the headline row hides: stream start
          // (pins + benchmark shingle collect), the micro-batch feed
          // (per-trigger constant × batches), and the day-end reconcile
          println(f"  [stream split: start ${(t1s - t0s) / 1e9}%.1f feed " +
            f"${(t2s - t1s) / 1e9}%.1f reconcile " +
            f"${(System.nanoTime() - t2s) / 1e9}%.1f]")
        }
        else timed(DailyDriver.step(spark, delta, bench, dir, cfg,
          Some(curEmb)))
      val tSearch = timed(
        DailyDriver.hybridSearch(spark, dir, queries, probes).count())
      val tPq = timed(DailyDriver.hybridSearch(spark, dir, queries, probes,
        pqDepth = 40).count())
      val tMaint =
        if ((i + 1) % maintainEvery == 0)
          timed {
            DailyDriver.maintain(spark, dir,
              lexGcGraceMs = 0L, vecGcGraceMs = 0L, embeddings = Some(curEmb))
            // the retention boundary rides the maintenance cadence:
            // keep the newest 4 arrival days at partition grain, fold
            // everything older into the base — the decB column shows
            // the live partition count bounded instead of +1/day
            DailyDriver.retireDecisions(spark, dir, keepBatches = 4)
          }
        else 0.0
      // periodic takedown: a slice of the delta that JUST landed (ids
      // are never re-stepped, so each round's victims are fresh) —
      // proves retractions interleave with steps/maintenance without
      // cost or state creep
      val tForget =
        if ((i + 1) % forgetEvery == 0)
          timed(DailyDriver.forget(spark,
            delta.filter(col("doc_id") % 5 === 2).select(col("doc_id")),
            docs, dir, cfg).count())
        else 0.0
      // periodic sealed snapshot + keep-last-two retention: sealing is
      // the O(decisions) fps join (flat in N), and the gc proves the
      // retired versions leave the file count instead of accumulating
      val tSnap =
        if ((i + 1) % snapEvery == 0)
          timed {
            val v = DailyDriver.snapshot(spark, dir)
            DailyDriver.snapshotGc(spark, dir, keep = _ > v - 2, graceMs = 0L)
          }
        else 0.0
      // the mid-life model migration: both vector stores swap to the
      // 32-dim model in one call; every later step/maintain/search in
      // this loop runs in the new space (the caller-owns-model-identity
      // contract). Grace 0 — the offline discipline of this check.
      val tMigr =
        if (i + 1 == reembedAt)
          timed {
            DailyDriver.reembed(spark, dir, emb2, gcGraceMs = 0L)
            curEmb = emb2
            probes = probesOf(emb2)
          }
        else 0.0
      val label =
        if (i + 1 == streamAt) s"step ${i + 1} (stream)" else s"step ${i + 1}"
      println(f"$label%-24s $tStep%8.2f $tSearch%8.2f " +
        f"$tPq%8.2f $tMaint%8.2f $tForget%8.2f $tSnap%8.2f $tMigr%8.2f " +
        f"${files()}%8d ${decParts()}%5d")
    }
  }

  /** The hybrid-retrieval cost split the q121 bench row conflates: the
    * corpus-linear index BUILD (once per corpus, amortized through
    * merge/appendStream in production) vs the recurring pruned SEARCH
    * (q132's registered row). The claim: build grows linearly with the
    * corpus; search cost tracks the query workload + probed buckets/
    * cells, staying near-flat across a 100× corpus range. */
  private def indexedSearchCheck(spark: SparkSession, dirs: Seq[String]): Unit = {
    println()
    println(f"${"hybrid index (q121/132)"}%-24s ${"build"}%8s ${"search"}%8s  build/search")
    for (d <- dirs) {
      spark.catalog.clearCache()
      val root = s"target/scalecheck_hybrid/${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val rp = new org.apache.hadoop.fs.Path(root)
      fsOf(spark, rp).delete(rp, true)
      val t0 = System.nanoTime()
      graft.queries.CurationQ7.buildHybridIndexes(spark, d, root)
      val tBuild = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      val t1 = System.nanoTime()
      graft.queries.CurationQ7.searchHybridIndexes(spark, d, root).count()
      val tSearch = (System.nanoTime() - t1) / 1e9
      // cell balance: the inline build assigns against the first-16-ids
      // centroid convention (skew-prone by construction); retrain's
      // trained quantizer should flatten the occupancy. Printed as
      // max-cell share — the fraction a worst-case probe of that cell
      // would scan.
      def maxShare(): Double = {
        val occ = graft.operators.VecIndex.open(spark, s"$root/vec")
          .groupBy(col("cid")).count().collect().map(_.getLong(1))
        occ.max.toDouble / occ.sum
      }
      val skewBefore = maxShare()
      val trained = graft.operators.VecIndex.retrain(spark, s"$root/vec",
        "vec_id", "embedding", k = 16, iters = 2)
      val skewAfter = maxShare()
      println(f"${d.split('/').last}%-24s $tBuild%8.2f $tSearch%8.2f  " +
        f"${tBuild / tSearch}%8.1fx  cellmax $skewBefore%.3f -> $skewAfter%.3f")
      // vector LSM delta policy on the same index: append the held-out
      // query vectors (id-disjoint from the indexed corpus) as a batch
      // delta, then measure the policy TRIGGER (deltaShare — two
      // driver-side content summaries, near-constant time at any corpus
      // size) and the gated fold, which returns the share to zero.
      locally {
        import graft.operators.VecIndex
        import graft.queries.CurationQ6.{qMod, qCap}
        val emb = Tables.embeddings(spark, d)
        VecIndex.append(
          emb.filter((col("vec_id") % qMod === 0) && (col("vec_id") < qCap)),
          "vec_id", "embedding", trained, s"$root/vec")
        val tv0 = System.nanoTime()
        val vShare = VecIndex.deltaShare(spark, s"$root/vec")
        val tvMeasure = (System.nanoTime() - tv0) / 1e9
        val tv1 = System.nanoTime()
        val vFired = VecIndex.compactIfDelta(spark, s"$root/vec", "vec_id",
          maxDeltaShare = 0.001)
        val tvCompact = (System.nanoTime() - tv1) / 1e9
        val vAfter = VecIndex.deltaShare(spark, s"$root/vec")
        println(f"${"  vec delta policy"}%-24s ${tvMeasure}%8.3f ${tvCompact}%8.2f  " +
          f"share $vShare%.3f -> $vAfter%.3f (${if (vFired) "compacted" else "no-op"})")
      }
      // PQ code table (q95/q134): the production ANN footprint — the
      // one-time encode scan (corpus-linear) vs the recurring
      // cell-pruned ADC search (workload + ~nprobe/nc of the CODE
      // table — must stay near-flat as the corpus grows)
      locally {
        import graft.operators.PqIndex
        import graft.queries.CurationQ3
        spark.catalog.clearCache()
        val quant = CurationQ3.ivfpqQuant(spark, d).localCheckpoint()
        val tp0 = System.nanoTime()
        PqIndex.build(Tables.embeddings(spark, d), "vec_id", "embedding",
          quant, s"$root/pqidx")
        val tpBuild = (System.nanoTime() - tp0) / 1e9
        val probes = Tables.embeddings(spark, d)
          .filter(col("vec_id") >= CurationQ3.ivfNc &&
            col("vec_id") < CurationQ3.ivfNc + 8)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        spark.catalog.clearCache()
        val tp1 = System.nanoTime()
        PqIndex.search(spark, s"$root/pqidx", probes, "vec_id",
          k = 10, nprobe = CurationQ3.ivfNprobe).count()
        val tpSearch = (System.nanoTime() - tp1) / 1e9
        println(f"${"  pq code table"}%-24s $tpBuild%8.2f $tpSearch%8.2f  " +
          f"${tpBuild / tpSearch}%8.1fx")
      }
      // lexical maintenance lifecycle on the same index: the held-out
      // query docs are id-disjoint from the indexed corpus by
      // construction, so merging them strands the touched buckets'
      // previous versions. The claim: the policy TRIGGER
      // (garbageShare) is a driver-side listing — near-constant time
      // at any corpus size — and the policy compaction returns the
      // eligible share to zero.
      import graft.operators.{LexIndex, UnigramLm}
      import graft.queries.CurationQ6.{qMod, qCap}
      val docs = Tables.documents(spark, d)
      LexIndex.merge(spark, s"$root/lex", UnigramLm.termFreq(
        docs.filter((col("doc_id") % qMod === 0) && (col("doc_id") < qCap)),
        "doc_id", "text"))
      val tm0 = System.nanoTime()
      val share = LexIndex.garbageShare(spark, s"$root/lex")
      val tMeasure = (System.nanoTime() - tm0) / 1e9
      val tc0 = System.nanoTime()
      val fired = LexIndex.compactIfGarbage(spark, s"$root/lex",
        maxGarbageShare = 0.02)
      val tCompact = (System.nanoTime() - tc0) / 1e9
      val after = LexIndex.garbageShare(spark, s"$root/lex")
      println(f"${"  lex gc policy"}%-24s ${tMeasure}%8.3f ${tCompact}%8.2f  " +
        f"share $share%.3f -> $after%.3f (${if (fired) "compacted" else "no-op"})")
    }
  }

  /** BPE training cost split into its two regimes: the ONE corpus pass
    * (initVocab's word-frequency aggregation) vs the merge rounds, which
    * run over the VOCABULARY table — sublinear in the corpus (new text
    * mostly repeats known words; the 10× synthetic's token-prefixing is
    * adversarial here, inflating vocab ~10×, so the printed round cost
    * is an upper bound on real-corpus growth). The claim a tokenizer
    * owner cares about at 100 TB: adding corpus grows the ONE-PASS cost
    * linearly, NOT the per-round cost × rounds (vocabularies train with
    * 10⁴-10⁵ merges). */
  private def bpeTrainCheck(spark: SparkSession, dirs: Seq[String]): Unit = {
    import graft.operators.Bpe
    println()
    println(f"${"bpe (8 rounds)"}%-24s ${"init"}%8s ${"rounds"}%8s  vocab")
    for (d <- dirs) {
      spark.catalog.clearCache()
      val docs = Tables.load(spark, d, "documents")
      val t0 = System.nanoTime()
      val vocab0 = Bpe.initVocab(docs, "text").localCheckpoint()
      val nVocab = vocab0.count()
      val tInit = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      var vocab = vocab0
      var r = 0
      while (r < 8) {
        val top = Bpe.pairCounts(vocab)
          .orderBy(col("cnt").desc, col("lft").asc, col("rgt").asc)
          .limit(1).collect()
        val prev = vocab
        vocab = vocab.withColumn("syms", Bpe.applyMerge(col("syms"),
          top.head.getAs[String]("lft"), top.head.getAs[String]("rgt")))
          .localCheckpoint()
        prev.unpersist()
        r += 1
      }
      val tRounds = (System.nanoTime() - t1) / 1e9
      vocab.unpersist()
      println(f"${d.split('/').last}%-24s $tInit%8.2f $tRounds%8.2f  $nVocab")
    }
  }

  /** The incremental pipeline's PRODUCTION shape, which the registered
    * q89 cannot exhibit: its oracle gate needs the full-corpus
    * equivalence, so the harness form rebuilds yesterday's run inline
    * and the headline number hides the operator's actual win. Here
    * `prev`/`prevIndex` are what they are in production — PARQUET READS
    * written by yesterday's run — and only the delta invocation is
    * timed, next to the full rerun over the same total corpus. Daily
    * work ∝ new docs + touched components is the claim; this prints the
    * measurement. */
  private def incrementalDeltaCheck(spark: SparkSession, dirs: Seq[String]): Unit = {
    import graft.pipelines.Curation
    val cfg = Curation.Config(minQuality = 2.95)
    val cols = Curation.DecisionCols
    println()
    println(f"${"incremental curation"}%-24s ${"delta"}%8s ${"full"}%8s  full/delta")
    for (d <- dirs) {
      spark.catalog.clearCache()
      val all = Tables.load(spark, d, "documents")
      // a PRODUCTION-SHAPED split: the daily delta is ~1% of the corpus
      // (q89's registered 25% split exists to make the oracle's
      // equivalence non-vacuous, not to model a day's arrivals)
      val a = all.filter(col("doc_id") % 100 =!= 0)
      val b = all.filter(col("doc_id") % 100 === 0)
      val bench = all.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
      // untimed setup: yesterday's run, written to storage like a real
      // daily driver would
      val prevDir = s"target/scalecheck_prev/${d.replaceAll("[^A-Za-z0-9]", "_")}"
      Curation.curate(a, bench, cfg).select(cols.map(col): _*)
        .write.mode("overwrite").parquet(s"$prevDir/decisions")
      val prevDecisions = DriverParquet.read(spark).load(s"$prevDir/decisions")
      graft.streaming.StreamOps.signatureIndex(
          a.join(prevDecisions.filter(col("quality_pass") && col("contam_pass"))
            .select("doc_id"), Seq("doc_id")))
        .write.mode("overwrite").parquet(s"$prevDir/sig_index")
      spark.catalog.clearCache()
      val prev = DriverParquet.read(spark).load(s"$prevDir/decisions")
      val prevIndex = DriverParquet.read(spark).load(s"$prevDir/sig_index")
      val t0 = System.nanoTime()
      // the DELTA form — what the daily driver actually materializes
      // and persists since the partition-grain publish (the full-table
      // union is a query-side composition, not a daily cost)
      Curation.curateIncrementalDelta(prev, prevIndex, b, bench, cfg).count()
      val tDelta = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      val t1 = System.nanoTime()
      Curation.curate(all, bench, cfg).count()
      val tFull = (System.nanoTime() - t1) / 1e9
      println(f"${d.split('/').last}%-24s $tDelta%8.2f $tFull%8.2f  ${tFull / tDelta}%8.1fx")
    }
  }

  /** The IVFADC crossover demonstration — the operating point the
    * testdata embeddings (500–40k rows × 64-d) can never reach: cells
    * must carry REAL weight before compressed nomination beats the
    * exact scan. Synthesizes a deterministic clustered corpus
    * (hash-derived — no RNG; cluster centers + per-row jitter, so
    * top-k is non-trivial), builds the raw IVF index over FEW coarse
    * cells (each ~n/4 rows) and a production-shaped code table
    * (m=32 sub-quantizers × 256-entry codebooks over residuals — the
    * Jégou et al. shape, not the driver's toy 8×16), then times the
    * recurring search three ways at matched k:
    *
    *  - exact:    `VecIndex.search` over the probed cells' raw floats
    *    (dim×4 B per row read, dim mults per row);
    *  - pure ADC: `PqIndex.searchAssigned` top-k straight from the
    *    probed cells' CODES (m B per row read, m table lookups per
    *    row) — probed under the probes' OWN cosine cells, the layout
    *    the table was built with;
    *  - ADC + exact rerank: nominate top-`depth` by ADC, rescore the
    *    nominations with `VecIndex.rerank`.
    *
    * Prints the two sides' scan-byte budgets, wall seconds, and
    * recall@k (vs the exact path) per depth — the committed readout
    * the pqDepth default should be chosen from. At this shape the ADC
    * scan reads dim×4/m = 16× fewer bytes and does dim/m = 4× fewer
    * multiplies-worth of work per candidate row; the crossover claim
    * checked is "faster at recall ≥ 0.9" across depths 8k/40k/160k. */
  private def adcCrossoverCheck(spark: SparkSession): Unit = {
    import graft.operators.{KMeans, PqIndex, VecIndex}
    val n = 1500000L; val dim = 128; val nCells = 4
    val m = 32; val kCode = 256; val k = 10
    val src = s"target/adc_src_${n}_${dim}m"
    if (!new java.io.File(s"$src/_SUCCESS").exists()) {
      // LOW-INTRINSIC-DIMENSION manifold, not blobs: real embedding
      // corpora have graded neighbor distances (rank-r structure +
      // noise), and an approximate ranker is only MEASURABLE on graded
      // distances — tight equidistant clusters make recall@k ≈
      // k/cluster-size for ANY method, a fixture artifact, not a
      // verdict on the codes. v = A·z(id) + ε: z an 8-d hash-derived
      // latent, A a fixed hash-derived 128×8 map, ε 5% full-rank noise.
      val r = 8
      val aLit = typedLit(Seq.tabulate(dim, r) { (j, t) =>
        // deterministic, seed-free: the same integer-hash trick the
        // data columns use, evaluated driver-side once
        val h = ((j * 31 + t) * 2654435761L) & 0xFFFFL
        h.toDouble / 32768.0 - 1.0
      })
      spark.range(n).select(col("id").as("vec_id"))
        .withColumn("z", transform(sequence(lit(0), lit(r - 1)), t =>
          pmod(xxhash64(col("vec_id"), t), lit(2000L)).cast("double")
            / 1000.0 - 1.0))
        .withColumn("embedding",
          transform(aLit, (arow, j) =>
            (aggregate(zip_with(arow, col("z"), (a, b) => a * b),
              lit(0.0), (acc, x) => acc + x) +
              (pmod(xxhash64(col("vec_id"), j, lit(7L)), lit(2000L))
                .cast("double") / 1000.0 - 1.0) * 0.05).cast("float")))
        .drop("z")
        .repartition(32)
        .write.mode("overwrite").parquet(src)
    }
    val base = DriverParquet.read(spark).load(src)
    val vdir = "target/adc_vec"; val pqdir = "target/adc_pq"
    // guard on BOTH stores: an interrupted first run (vec published,
    // pq not — the quantizer training is the widest window) must
    // rebuild, not wedge every later run on the missing code table
    if (VecIndex.currentVersion(spark, vdir) == 0L ||
        PqIndex.currentVersion(spark, pqdir) == 0L) {
      val sample = base.filter(col("vec_id") % 150L === 0L) // ~10k rows
      val cents = KMeans.lloyd(sample, "vec_id", "embedding",
        k = nCells, iters = 2).localCheckpoint(true)
      VecIndex.build(base, "vec_id", "embedding", cents, vdir,
        persistCentroids = true)
      val assigned = VecIndex.open(spark, vdir)
        .select(col("vec_id"), col("embedding"), col("cid"))
      // sub-codebooks trained properly: ~45k samples (175 per codeword)
      // and 5 Lloyd rounds — an undertrained codebook would make the
      // recall ceiling a training artifact instead of a code-resolution
      // fact
      val quant = PqIndex.quantFrom(cents,
        assigned.filter(col("vec_id") % 33L === 0L),
        "vec_id", "embedding", m, kCode, iters = 5)
      PqIndex.buildAssigned(assigned, "vec_id", "embedding", quant, pqdir)
    }
    val idx = VecIndex.open(spark, vdir)
    val probes = idx.filter(col("vec_id") % 100000L === 17L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("cid").as("q_cid")).localCheckpoint(true)
    val nProbes = probes.count()
    def timed[A](f: => A): (A, Double) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    // the scan-byte budget per side — the fleet-scale determinant a
    // page-cached local run hides: at 100 TB the probed cells' BYTES
    // are the cost, and the code table's are dim×4/m smaller
    def dirBytes(p: String): Long = {
      val hp = new org.apache.hadoop.fs.Path(p)
      val f = fsOf(spark, hp)
      if (f.exists(hp)) f.getContentSummary(hp).getLength else 0L
    }
    val rawMb = dirBytes(s"$vdir/cells") / 1e6
    val codeMb = dirBytes(s"$pqdir/cells") / 1e6
    println(s"\n--- IVFADC crossover (n=$n dim=$dim cells=$nCells " +
      s"m=$m k*=$kCode probes=$nProbes) ---")
    println(f"raw cells ${rawMb}%.0f MB vs code cells ${codeMb}%.0f MB " +
      f"(${rawMb / math.max(codeMb, 1e-9)}%.1fx scan-byte advantage)")
    // the AUTO-DEPTH policy's pick at this measured operating point —
    // the committed readout that the decision is now code, not caller
    // documentation: probed raw bytes vs the default budget → 0 here
    // (page-cache scale; the floats fit), the compressed depth only
    // when they dwarf it (DailyDriver.autoPqDepth)
    locally {
      import graft.pipelines.DailyDriver
      val probedCids = probes.select(col("q_cid")).distinct().collect()
        .map(_.getAs[Number](0).longValue).toSeq
      val probedBytes = VecIndex.cellBytes(spark, vdir, probedCids)
      val budget = DailyDriver.DefaultPqAutoBudgetBytes
      val pick = DailyDriver.autoPqDepth(probedBytes, budget, k)
      println(f"auto-depth policy: probed ${probedBytes / 1e6}%.0f MB vs " +
        f"budget ${budget / 1e6}%.0f MB -> pqDepth=$pick" +
        (if (pick == 0) " (exact scan)" else " (compressed nomination)"))
    }
    println(f"${"path"}%-18s ${"wall_s"}%8s ${"recall@"}$k%-6s")
    // warm both file sets once so the comparison is page-cache-fair.
    // The ADC side probes through searchAssigned with the probes'
    // OWN (cosine-assigned) cells — the code table was built under
    // VecIndex's max-cosine assignment, and PqIndex.search's
    // self-selected min-L2 cell can disagree with it, which would
    // charge a cell-rule mismatch to the codes' recall.
    VecIndex.search(idx, probes, "vec_id", "embedding", k).count()
    PqIndex.searchAssigned(spark, pqdir, probes, "vec_id", k).count()
    val (exact, tEx) = timed(
      VecIndex.search(idx, probes, "vec_id", "embedding", k)
        .select(col("q_id"), col("vec_id")).collect().map(r =>
          (r.getLong(0), r.getLong(1))).toSet)
    println(f"${"exact"}%-18s $tEx%8.2f ${1.0}%.3f")
    def recallOf(got: Set[(Long, Long)]): Double =
      if (exact.isEmpty) 1.0
      else got.count(exact.contains).toDouble / exact.size
    // PURE ADC — the standard IVFADC answer (Jégou et al.): ADC-ranked
    // top-k straight from the code scan, m bytes + m lookups per
    // candidate row where the exact path pays dim×4 bytes + dim
    // multiplies. THIS is the compressed path's operating mode; the
    // exact-rerank composition below restores recall but RESCANS the
    // probed cells' raw floats, so in a scan-based engine it can never
    // undercut the exact scan at equal cells (its value is recall
    // repair at matched cost, or deployments whose raw vectors live
    // off the scan path).
    val (pureAdc, tPure) = timed(
      PqIndex.searchAssigned(spark, pqdir, probes, "vec_id", k)
        .select(col("q_id"), col("vec_id")).collect().map(r =>
          (r.getLong(0), r.getLong(1))).toSet)
    println(f"${"adc pure"}%-18s $tPure%8.2f ${recallOf(pureAdc)}%.3f")
    for (depth <- Seq(8 * k, 40 * k, 160 * k)) {
      val (got, tAdc) = timed {
        val noms = PqIndex.searchAssigned(spark, pqdir, probes,
            "vec_id", depth)
          .select(col("q_id"), col("vec_id"))
        VecIndex.rerank(idx, probes, noms, "vec_id", "embedding", k)
          .select(col("q_id"), col("vec_id")).collect().map(r =>
            (r.getLong(0), r.getLong(1))).toSet
      }
      println(f"${s"adc+rerank d=$depth"}%-18s $tAdc%8.2f ${recallOf(got)}%.3f")
    }
  }
}
