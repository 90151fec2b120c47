package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}
import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{Bm25, fsOf}
import graft.sources.DriverParquet

/** Seventh batch — the round-6 depth items: INDEX-BACKED hybrid
  * retrieval (q121 — the fusion q113 demonstrates brute-force, run over
  * the persisted [[graft.operators.LexIndex]]/[[graft.operators.VecIndex]]
  * layouts so both candidate scans partition-prune), production-width
  * benchmark decontamination (q122 — the width-8 contract next to q70's
  * width-3), the sampled-threshold form of per-language quality
  * bucketing (q123 — q109's exact-rank window replaced by the two-pass
  * sample-then-map shape a 100 TB corpus needs), and graded retrieval
  * evaluation (q124 — nDCG@10 next to q120's MRR, integer-quantized
  * discount gains so the sums stay order-free).
  */
object CurationQ7 {

  import CurationQ6.{qMod, qCap, dfPermille, rrfK, rrfScale, fuseDepth}

  // --------------------------------------------------------------- q121

  /** Coarse cells for the vector index (the q72/q101 convention: the
    * first ids are the centroid set) and the probes' multi-probe depth
    * (q80's nprobe = 2). */
  private val idxCells = 16L
  private val idxNprobe = 2

  /** The ONCE-PER-CORPUS half: build the inverted index, its BM25
    * corpus statistics (df table + doc count — persisted so the search
    * half never re-scans the corpus to derive them), and the IVF vector
    * layout under `root`. Corpus-linear; production amortizes it through
    * `LexIndex.merge` / `VecIndex.appendStream`. */
  private[graft] def buildHybridIndexes(s: SparkSession, d: String,
                                          root: String): Unit = {
    import graft.operators.{LexIndex, UnigramLm, VecIndex}
    val docs = Tables.documents(s, d)
    val isQ = (col("doc_id") % qMod === 0) && (col("doc_id") < qCap)
    val tf = UnigramLm.termFreq(docs.filter(!isQ), "doc_id", "text")
      .cache() // read by the index build AND both stats aggregations
    LexIndex.build(tf, s"$root/lex")
    tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$root/df")
    // NO ndocs sidecar (round 14, guide §1.5): n_docs lives in the
    // just-built index's 1-row stats — the search half reads it from
    // there, so persisting a copy was one write job (and one read) per
    // build for a number the index already owns.
    tf.unpersist()
    val emb = Tables.embeddings(s, d)
    val isQv = (col("vec_id") % qMod === 0) && (col("vec_id") < qCap)
    val cents = emb.filter(col("vec_id") < idxCells)
      .select(col("vec_id").cast(IntegerType).as("cid"),
        col("embedding").as("centroid"))
    VecIndex.build(emb.filter(!isQv), "vec_id", "embedding", cents, s"$root/vec")
  }

  /** The RECURRING half: search the persisted layouts. Reads = the query
    * docs/vectors (id-capped pushed-filter scans), the persisted df table
    * and the index's stats row, the query terms' lex buckets, and the probes' nprobe cells —
    * never the corpus. */
  private[graft] def searchHybridIndexes(s: SparkSession, d: String,
                                           root: String): DataFrame = {
    import graft.operators.LexIndex
    val emb = Tables.embeddings(s, d)
    val cents = emb.filter(col("vec_id") < idxCells)
      .select(col("vec_id").cast(IntegerType).as("cid"),
        col("embedding").as("centroid"))
    fuseSearch(s, d, s"$root/lex", DriverParquet.read(s).load(s"$root/df"),
      LexIndex.stats(s, s"$root/lex").select(col("n_docs")),
      s"$root/vec", "vec_id", cents)
  }

  /** The fused hybrid search over ARBITRARY index roots — factored so
    * DailyDriverApiSpec can run the exact oracle-checked arithmetic
    * over DRIVER-maintained indexes (its lex/vec layouts + an
    * index-derived df table) and compare bitwise with the q121-root
    * result. Probe workload (the isQ/isQv held-out split) and RRF
    * fusion are q113's verbatim. */
  private[graft] def fuseSearch(s: SparkSession, d: String,
                                lexPath: String, dfreq: DataFrame,
                                nDocs: DataFrame, vecPath: String,
                                vecIdCol: String,
                                cents: DataFrame): DataFrame = {
    import graft.operators.{KMeans, LexIndex, VecIndex}

    // ----- lexical side
    val docs = Tables.documents(s, d)
    val isQ = (col("doc_id") % qMod === 0) && (col("doc_id") < qCap)
    val qdocs = docs.filter(isQ)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(tokens(col("text")))).as("term"))
    // cache: search reads qterms twice (bucket-id collect + probe join)
    val qt = Bm25.queryTerms(qdocs, dfreq, nDocs, dfPermille).cache()
    val lex = LexIndex.search(s, lexPath, qt, fuseDepth)
      .select(col("q_id"), col("doc_id"), col("rk").as("rb"))

    // ----- vector side
    val emb = Tables.embeddings(s, d)
    val isQv = (col("vec_id") % qMod === 0) && (col("vec_id") < qCap)
    // probe-sized assignment: skip the corpus-fan-out spread (round 14
    // — the probe set is a bounded query workload; the spread's
    // exchange + full-parallelism stage were pure per-job constants)
    val probes = KMeans
      .assignTopPrepared(KMeans.prep(emb.filter(isQv), "vec_id", "embedding"),
        "vec_id", cents, idxNprobe)
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("cid").as("q_cid"))
    val vec = VecIndex
      .search(VecIndex.open(s, vecPath), probes, vecIdCol, "embedding", fuseDepth)
      .select(col("q_id"), col(vecIdCol).as("doc_id"), col("rk").as("rv"))

    // ----- RRF fusion — q113's arithmetic, the one shared definition
    graft.operators.Rrf.fuse(lex, vec, 5)
  }

  /** Hybrid retrieval over PERSISTED indexes — q113's RRF fusion with
    * both candidate generators index-backed: the BM25 side searches a
    * [[graft.operators.LexIndex]] built over the corpus (reads only the
    * query terms' buckets), the vector side searches a
    * [[graft.operators.VecIndex]] IVF layout (reads only the probes'
    * nprobe = 2 cells). q113 stays registered as the brute-force recall
    * oracle (the q72 pattern); this is the form a corpus owner RUNS for
    * recurring retrieval workloads — per batch it reads ~|query terms'
    * buckets| + ~nprobe/k of the corpus instead of re-scanning all of
    * it (q113's vector side was the battery's worst ScaleCheck row).
    *
    * The index build inside the query is the once-per-corpus cost run
    * inline so the row stays self-contained and oracle-checkable; the
    * searches are proven identical to the inline scorers
    * (LexIndexSpec/VecIndexSpec), which is what licenses the inline
    * oracle SQL. IndexedHybridSpec asserts BOTH search scans
    * partition-prune inside this composed plan and floors the fused
    * recall against q113. q132 is the same semantics with the build
    * CACHED — the recurring-workload row. */
  private def q121(s: SparkSession, d: String): DataFrame = {
    val root = new java.io.File(
      s"target/qindex/q121_${java.lang.Integer.toHexString(d.hashCode)}")
      .getAbsolutePath
    val rp = new org.apache.hadoop.fs.Path(root)
    fsOf(s, rp).delete(rp, true)
    buildHybridIndexes(s, d, root)
    searchHybridIndexes(s, d, root)
  }

  /** The on-disk index layout generation — bumped whenever ANY
    * persisted index under a cached root changes its directory format
    * (LexIndex, VecIndex, PqIndex — every [[cachedRoot]] family), so a
    * cached root written by an older engine can never be opened by a
    * newer one (layout 2: the versioned-manifest cells/delta-epoch
    * layout; layout 3: the snapshot store's revisioned `snap/v=N/r=K`
    * data dirs and the driver's batch-partitioned decision/signature
    * tables; layout 4: the snap root carries v=1's training-shard
    * export; layout 5: no ndocs sidecar — n_docs reads from the lex
    * index's stats row). */
  private val idxLayoutGen = 5

  /** Content fingerprint of the tables the cached index roots derive
    * from — file names/lengths/mtimes of the documents + embeddings
    * layouts, plus [[idxLayoutGen]]. Keys every [[cachedRoot]] family
    * (q132's hybrid root, q134's PQ root) so a regenerated testdata
    * directory OR an engine layout change can never serve a stale index
    * (the reuse is exact, not heuristic). */
  private def dataFingerprint(s: SparkSession, d: String): String = {
    val parts = Seq("documents.parquet", "embeddings.parquet").map { t =>
      val p = new org.apache.hadoop.fs.Path(s"$d/$t")
      val fs = fsOf(s, p)
      fs.listStatus(p)
        .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .sorted.mkString(",")
    }.mkString(";") + s";layout=$idxLayoutGen"
    java.lang.Long.toHexString(
      parts.foldLeft(1125899906842597L)((h, c) => h * 31 + c))
  }

  /** q121's RECURRING-WORKLOAD row: identical semantics and output (the
    * oracle is shared), but the corpus-linear index build runs only when
    * no index for this exact data fingerprint exists — persisted once by
    * the harness, then every later invocation is the pruned SEARCH cost
    * alone. This is the number a corpus owner sees per retrieval batch;
    * q121 keeps reporting the self-contained build+search cost. The
    * cached build lands via [[graft.operators.AtomicSwap]], so a killed
    * build can never serve a half-written index (the root exists only
    * after a complete build committed). */
  private def q132(s: SparkSession, d: String): DataFrame =
    searchHybridIndexes(s, d,
      cachedRoot(s, d, "shared")(tmp => buildHybridIndexes(s, d, tmp)))

  /** Resolve — building once if absent — a data-fingerprint-keyed cached
    * index root under `target/qindex`, shared by the search-only query
    * rows (q132's hybrid root, q134's PQ root). The build lands via
    * [[graft.operators.AtomicSwap]] (a killed build can never serve a
    * half-written root) under a cache-dir lease with heartbeats — a
    * build slower than staleMs stays fenced (a raw acquire would age out
    * mid-build and let a second builder race the same AtomicSwap tmp
    * path). A loser polls for the winner's published root; its deadline
    * sits comfortably ABOVE staleMs, so a genuinely crashed builder ages
    * out and a waiter's next acquire attempt takes the lease over rather
    * than throwing just before takeover becomes possible.
    *
    * @param tag   cache family name — the root is `{tag}_{dirHash}_{fp}`
    * @param build materialize the complete index under the given tmp dir
    * @return the published root */
  private[graft] def cachedRoot(s: SparkSession, d: String, tag: String)
                               (build: String => Unit): String = {
    val prefix = s"${tag}_${java.lang.Integer.toHexString(d.hashCode)}_"
    val root = new java.io.File(
      s"target/qindex/$prefix${dataFingerprint(s, d)}").getAbsolutePath
    graft.operators.AtomicSwap.repair(s, root)
    val rp = new org.apache.hadoop.fs.Path(root)
    val fsys = fsOf(s, rp)
    val staleMs = 10L * 60 * 1000
    val deadline = System.currentTimeMillis() + 3 * staleMs
    // the lease is PER ROOT (a dot-prefixed sibling dir the sibling
    // sweep's prefix filter never matches): with several cache families
    // under target/qindex, a parent-dir lease would make a q134 waiter
    // queue behind an unrelated q132 build and time out with a spurious
    // "never published" — the waiter's deadline reasoning only holds
    // when the lease holder is building exactly the root being polled
    val lockDir = new org.apache.hadoop.fs.Path(rp.getParent,
      s".lock_${rp.getName}")
    while (!fsys.exists(rp)) {
      fsys.mkdirs(lockDir)
      val won =
        try {
          graft.operators.Lease.withLease(s, lockDir.toString,
            s"$tag-build", staleMs) {
            graft.operators.AtomicSwap.repair(s, root)
            if (!fsys.exists(rp)) {
              // a changed fingerprint means THIS directory's data was
              // regenerated: the old fingerprints' roots (full index
              // copies) are unreachable garbage. AGE-GATED sweep: only
              // roots published more than a grace window ago go — a
              // battery that resolved its (old-fingerprint) root just
              // before the regeneration can finish its searches; the
              // fresh debris is collected by a later build's sweep.
              val grace = 60L * 60 * 1000
              val now = System.currentTimeMillis()
              fsys.listStatus(rp.getParent)
                .filter { st =>
                  val n = st.getPath.getName
                  val staleRoot = n.startsWith(prefix) && n != rp.getName
                  val staleLock = n.startsWith(s".lock_$prefix") &&
                    n != lockDir.getName
                  (staleRoot || staleLock) &&
                    now - st.getModificationTime > grace
                }
                .foreach(st => fsys.delete(st.getPath, true))
              graft.operators.AtomicSwap.swap(s, root)(build)
            }
          }
          true
        } catch {
          // acquire-side failure only: a live builder holds the lease
          case e: IllegalStateException
              if e.getMessage.startsWith("writer lease for") => false
        }
      if (!won) { // another process is building — wait for its publish
        require(System.currentTimeMillis() < deadline,
          s"$tag index build by another process never published under $root")
        Thread.sleep(1000)
      }
    }
    root
  }

  // --------------------------------------------------------------- q135

  /** The FULL driver-maintained retrieval stack as a recurring row —
    * q132's search-only semantics served by [[graft.pipelines
    * .DailyDriver]] storage with the PQ half engaged: the once-per-
    * corpus cost is `DailyDriver.init` over q121's corpus split
    * (lex + sig + raw-vector + PQ code table, q121's quantizer
    * convention passed as the standardized coarse quantizer), cached
    * under the data fingerprint like q132/q134; the recurring call is
    * `DailyDriver.hybridSearch` on its IVFADC path — ADC nominations
    * off the code table, exact rerank against the raw cells, RRF-fused
    * with BM25. At [[graft.pipelines.DailyDriver.ExhaustiveRerank]]
    * depth the nominations cover every probed-cell row, which is what
    * licenses sharing q121's oracle bitwise (DailyDriverApiSpec pins
    * the equality); ScaleCheck's driver section measures the bounded
    * production depths. */
  private def q135(s: SparkSession, d: String): DataFrame = {
    import graft.pipelines.{Curation, DailyDriver}
    import org.apache.spark.sql.types.IntegerType
    def isQ(c: String) = (col(c) % qMod === 0) && (col(c) < qCap)
    val root = cachedRoot(s, d, "driver") { tmp =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val emb = Tables.embeddings(s, d)
      val cents = emb.filter(col("vec_id") < idxCells)
        .select(col("vec_id").cast(IntegerType).as("cid"),
          col("embedding").as("centroid"))
      // open config + any benchmark → every corpus doc is a candidate,
      // so the driver's four indexes hold exactly q121's corpus
      DailyDriver.init(s, docs.filter(!isQ("doc_id")),
        docs.filter(col("doc_id") % 50 === 0), tmp,
        Curation.Config(minQuality = -1e18, maxContamRatio = 1.0),
        embeddings = Some(emb.filter(!isQ("vec_id"))
          .select(col("vec_id").as("doc_id"), col("embedding"))),
        quantizer = Some(cents))
    }
    val qTexts = Tables.documents(s, d).filter(isQ("doc_id"))
      .select(col("doc_id").as("q_id"), col("text"))
    val qProbes = Tables.embeddings(s, d).filter(isQ("vec_id"))
      .select(col("vec_id").as("q_id"), col("embedding"))
    DailyDriver.hybridSearch(s, root, qTexts, qProbes,
      k = 5, depth = fuseDepth, nprobe = idxNprobe,
      maxDfPermille = dfPermille,
      pqDepth = DailyDriver.ExhaustiveRerank)
  }

  private val q121Sql = {
    import SimilarityQ.sqlDotFold
    def qs(c: String) = s"($c % $qMod = 0 AND $c < $qCap)"
    s"""WITH ${CurationQ6.bm25SqlPrefix},
       |lex AS (SELECT q_id, doc_id, rb FROM (
       |    SELECT q_id, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY bm25_s DESC, doc_id ASC) AS rb
       |    FROM pairs) WHERE rb <= $fuseDepth),
       |emb0 AS (SELECT vec_id, embedding,
       |    sqrt(${sqlDotFold("embedding", "embedding")}) AS nrm FROM embeddings),
       |vecs AS (SELECT * FROM emb0 WHERE nrm > 0.0),
       |c AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS c_vec, nrm AS c_norm
       |  FROM vecs WHERE vec_id < $idxCells),
       |a0 AS (SELECT v.vec_id AS vec_id, v.embedding AS embedding, v.nrm AS nrm,
       |    c.cid AS cid,
       |    ${sqlDotFold("v.embedding", "c.c_vec")} / (v.nrm * c.c_norm) AS c_cos
       |  FROM vecs v CROSS JOIN c),
       |ar AS (SELECT vec_id, embedding, nrm, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY c_cos DESC, cid ASC) AS rn
       |  FROM a0),
       |corpus AS (SELECT vec_id, embedding, nrm, cid FROM ar
       |  WHERE rn = 1 AND NOT ${qs("vec_id")}),
       |probes AS (SELECT vec_id AS q_id, embedding AS q_vec, nrm AS q_nrm, cid
       |  FROM ar WHERE rn <= $idxNprobe AND ${qs("vec_id")}),
       |vc AS (SELECT p.q_id AS q_id, x.vec_id AS doc_id,
       |    ${sqlDotFold("x.embedding", "p.q_vec")} / (x.nrm * p.q_nrm) AS cos
       |  FROM corpus x JOIN probes p ON x.cid = p.cid AND x.vec_id <> p.q_id),
       |vec AS (SELECT q_id, doc_id, rv FROM (
       |    SELECT q_id, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY cos DESC, doc_id ASC) AS rv
       |    FROM vc) WHERE rv <= $fuseDepth),
       |fused AS (SELECT COALESCE(lex.q_id, vec.q_id) AS q_id,
       |    COALESCE(lex.doc_id, vec.doc_id) AS doc_id, rb, rv,
       |    COALESCE($rrfScale // (rb + $rrfK), 0) +
       |      COALESCE($rrfScale // (rv + $rrfK), 0) AS rrf_s
       |  FROM lex FULL OUTER JOIN vec
       |    ON lex.q_id = vec.q_id AND lex.doc_id = vec.doc_id),
       |ranked AS (SELECT q_id, doc_id, rb, rv, rrf_s,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY rrf_s DESC, doc_id ASC) AS rk
       |  FROM fused)
       |SELECT q_id, rk, doc_id, COALESCE(rb, 0) AS rb, COALESCE(rv, 0) AS rv,
       |  rrf_s, CAST(rrf_s AS DOUBLE) / $rrfScale.0 AS rrf
       |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin
  }

  // --------------------------------------------------------------- q122

  /** The production decontamination gram width (q70's recipe at n = 8:
    * benchmark suites are decontaminated on 8–13-gram overlap in
    * practice — a 3-gram flags common phrases, a wide gram only real
    * leaks). The second oracle-paired width behind
    * [[graft.pipelines.Curation.Config.shingleWidth]]. */
  private val q122Width = 8

  /** q70's benchmark-decontamination semantics at width 8: count
    * word-8-gram shingle overlap with the benchmark slice, per corpus
    * document. Same broadcast sorted-array + `sorted_intersect_count`
    * kernel — the width only changes the per-row gram fold, so the q70
    * scale shape (zero corpus shuffle) is unchanged. Unlike q70 the
    * AUDIT keeps every corpus doc (n_overlap = 0 rows included): at
    * width 8 genuine overlap is rare by design — that near-empty flag
    * set vs q70's is exactly the 3-vs-8-gram overclaiming story, and a
    * flagged-only projection would make the result trivially tiny.
    * Documents shorter than 8 tokens have no 8-grams (ratio 0). */
  private def q122(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), wordShingles(col("tk"), q122Width).as("sh"))
    val benchArr = sh.filter(col("doc_id") % 97 === 0)
      .select(explode(col("sh")).as("h")).distinct()
      .agg(array_sort(collect_set(col("h"))).as("bench_sh"))
    sh.filter(col("doc_id") % 97 =!= 0)
      .crossJoin(broadcast(benchArr))
      .withColumn("n_sh", size(col("sh")).cast(LongType))
      .withColumn("n_overlap",
        call_function("sorted_intersect_count", col("sh"), col("bench_sh")).cast(LongType))
      .withColumn("contam_ratio",
        when(col("n_sh") > 0L,
          col("n_overlap").cast(DoubleType) / col("n_sh").cast(DoubleType))
          .otherwise(lit(0.0)))
      .select(col("doc_id"), col("n_sh"), col("n_overlap"), col("contam_ratio"))
      .orderBy(col("doc_id"))
  }

  private val q122Sql =
    s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |sh AS (SELECT doc_id, ${sqlWordShingles("tk", q122Width)} AS sh FROM tk),
       |bench AS (SELECT DISTINCT unnest(sh) AS h FROM sh WHERE doc_id % 97 = 0),
       |bench_arr AS (SELECT list(h ORDER BY h) AS ba FROM bench),
       |scored AS (SELECT doc_id,
       |    CAST(len(sh) AS BIGINT) AS n_sh,
       |    CAST(len(list_intersect(sh, ba)) AS BIGINT) AS n_overlap
       |  FROM sh CROSS JOIN bench_arr WHERE doc_id % 97 <> 0)
       |SELECT doc_id, n_sh, n_overlap,
       |  CASE WHEN n_sh > 0
       |    THEN CAST(n_overlap AS DOUBLE) / CAST(n_sh AS DOUBLE)
       |    ELSE 0.0 END AS contam_ratio
       |FROM scored ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q123

  /** q109's reference-slice rule (every 7th doc trains the LM) and the
    * deterministic sample rate: hash("smp:" + id) % 4 = 0 keeps ~25% of
    * scored docs as the threshold sample. */
  private val ccRefMod = 7L
  private val sampMod = 4L

  /** The PRODUCTION form of per-language quality bucketing — q109's
    * CCNet terciles with the thresholds derived from a deterministic
    * SAMPLE and applied map-side. q109's exact form ranks every
    * document inside a per-language window: at 100 TB a dominant
    * language is a billion-row window partition. Here the rank window
    * runs over the ~25% sample only (bounded by the sample rate — at
    * fleet scale the rate is chosen so a language's sample fits one
    * task), producing two cut VALUES per language; every document then
    * buckets by comparing its score to the broadcast cuts — pure map
    * work, no corpus-grain window at all. The trade is standard
    * CCNet practice: thresholds from a sample, applied to the stream.
    * SampledTercileSpec bounds the bucket disagreement vs the exact
    * q109 form; languages with an empty or degenerate sample fall
    * through the null-guarded CASE to "tail"/"middle" deterministically
    * on both engines. */
  private def q123(s: SparkSession, d: String): DataFrame = {
    import graft.operators.UnigramLm
    val docs = Tables.documents(s, d)
    val tf = UnigramLm.termFreq(docs, "doc_id", "text")
      .cache() // read twice: LM-count branch + scoring branch (q69 rule)
    val lm = UnigramLm.train(tf.filter(col("doc_id") % ccRefMod === 0))
    val scored =
      UnigramLm.score(tf.filter(col("doc_id") % ccRefMod =!= 0), lm, "doc_id")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val inSample =
      strHash(concat(lit("smp:"), col("doc_id").cast(StringType))) % sampMod === 0
    val samp = scored.filter(inSample)
    val ws = Window.partitionBy(col("lang"))
      .orderBy(col("mean_p").desc, col("doc_id").asc) // sample-sized window
    val nS = samp.groupBy(col("lang")).agg(count(lit(1)).as("n_s"))
    val cuts = samp
      .withColumn("srk", row_number().over(ws).cast(LongType))
      .join(broadcast(nS), Seq("lang"))
      .groupBy(col("lang"))
      .agg(min(when(col("srk") * 3 <= col("n_s"), col("mean_p"))).as("head_cut"),
        min(when(col("srk") * 3 <= col("n_s") * 2, col("mean_p"))).as("mid_cut"))
    scored.join(broadcast(cuts), Seq("lang"), "left")
      .withColumn("in_sample", inSample)
      .withColumn("bucket",
        when(col("head_cut").isNotNull && col("mean_p") >= col("head_cut"), "head")
          .when(col("mid_cut").isNotNull && col("mean_p") >= col("mid_cut"), "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("mean_p"), col("in_sample"),
        col("bucket"))
      .orderBy(col("doc_id"))
  }

  private val q123Sql = {
    val sampH = sqlStrHash("concat('smp:', CAST(s.doc_id AS VARCHAR))")
    s"""WITH tk AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY doc_id, term),
       |ref AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS c_t
       |  FROM tf WHERE doc_id % $ccRefMod = 0 GROUP BY term),
       |tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS c_total, COUNT(*) AS v_size FROM ref),
       |sc AS (SELECT doc_id,
       |    CAST(SUM(tf) AS BIGINT) AS n_tokens,
       |    CAST(SUM(tf * (COALESCE(c_t, 0) + 1)) AS BIGINT) AS l_num
       |  FROM tf LEFT JOIN ref USING (term)
       |  WHERE doc_id % $ccRefMod <> 0 GROUP BY doc_id),
       |scored AS (SELECT s.doc_id AS doc_id, d.lang AS lang,
       |    CAST(l_num AS DOUBLE) / CAST(n_tokens * (c_total + v_size) AS DOUBLE)
       |      AS mean_p,
       |    ($sampH) % $sampMod = 0 AS in_sample
       |  FROM sc s CROSS JOIN tot JOIN documents d ON d.doc_id = s.doc_id),
       |samp AS (SELECT doc_id, lang, mean_p,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY mean_p DESC, doc_id ASC) AS BIGINT) AS srk,
       |    CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n_s
       |  FROM scored WHERE in_sample),
       |cuts AS (SELECT lang,
       |    MIN(CASE WHEN srk * 3 <= n_s THEN mean_p END) AS head_cut,
       |    MIN(CASE WHEN srk * 3 <= n_s * 2 THEN mean_p END) AS mid_cut
       |  FROM samp GROUP BY lang)
       |SELECT doc_id, scored.lang AS lang, mean_p, in_sample,
       |  CASE WHEN head_cut IS NOT NULL AND mean_p >= head_cut THEN 'head'
       |       WHEN mid_cut IS NOT NULL AND mean_p >= mid_cut THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM scored LEFT JOIN cuts ON scored.lang = cuts.lang
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q124

  /** Fixed-point nDCG discount gains: gain(r) = round(S / log2(r + 1))
    * for ranks 1..10, computed ONCE here and embedded as literals in
    * BOTH engines' plans — log2 is transcendental (the C2-tier
    * divergence risk), so neither engine evaluates it at query time;
    * the per-query DCG/IDCG sums are order-free integer sums of these
    * constants, with one final display division. */
  private val ndcgScale = 1000000L
  private val ndcgGains: Seq[Long] = (1 to fuseDepth).map(r =>
    Math.round(ndcgScale / (Math.log(r + 1.0) / Math.log(2.0))))
  private val ndcgIdcg: Seq[Long] = ndcgGains.scanLeft(0L)(_ + _).tail

  /** Graded retrieval evaluation — nDCG@10 over q120's near-duplicate
    * ground truth (the SimHash60 pair generator), alongside q120's MRR:
    * MRR only grades the FIRST hit, nDCG credits every relevant
    * document by a rank discount, which is what a curation owner tuning
    * BM25/fusion parameters actually compares. Binary gains at the
    * quantized discounts [[ndcgGains]]; IDCG is the prefix sum at
    * min(n_rel, 10). Per-query rows, no order-dependent global mean.
    *
    * Scale shape: q111's scoring plan at depth 10 + the banded pair
    * generator + workload-sized joins — identical to q120's, plus two
    * literal-array lookups. */
  private def q124(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isQ = (col("doc_id") % qMod === 0) && (col("doc_id") < qCap)
    val tf = graft.operators.UnigramLm
      .termFreq(docs.filter(!isQ), "doc_id", "text")
      .cache()
    // shared cached dl — the q111 prep shape (one doc-grain shuffle)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")).cache()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = dl.agg(count(lit(1)).as("n_docs"))
    val qdocs = docs.filter(isQ)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(tokens(col("text")))).as("term"))
    val wb = Window.partitionBy(col("q_id"))
      .orderBy(col("bm25_s").desc, col("doc_id").asc)
    val ranked = Bm25
      .scorePairs(tf, Bm25.queryTerms(qdocs, dfreq, nDocs, dfPermille), dl,
        Bm25.statsFromDl(dl))
      .withColumn("rk", row_number().over(wb))
      .filter(col("rk") <= fuseDepth)
      .select(col("q_id"), col("doc_id"), col("rk"))
    val pairs = ScaleQ.simhash60Pairs(docs, bands = 3, bits = 20, maxHam = 2)
    val qSide = (c: String) => (col(c) % qMod === 0) && (col(c) < qCap)
    val rel = pairs.filter(qSide("doc_a") && !qSide("doc_b"))
      .select(col("doc_a").as("q_id"), col("doc_b").as("doc_id"))
      .unionByName(pairs.filter(qSide("doc_b") && !qSide("doc_a"))
        .select(col("doc_b").as("q_id"), col("doc_a").as("doc_id")))
    val relStats = rel.groupBy(col("q_id")).agg(count(lit(1)).as("n_rel"))
    val hitStats = ranked.join(rel, Seq("q_id", "doc_id"))
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_hits"),
        sum(element_at(typedlit(ndcgGains), col("rk"))).as("dcg_s"))
    docs.filter(isQ).select(col("doc_id").as("q_id"))
      .join(relStats, Seq("q_id"), "left")
      .join(hitStats, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("dcg_s"), lit(0L)).as("dcg_s"))
      .withColumn("idcg_s",
        when(col("n_rel") > 0L,
          element_at(typedlit(ndcgIdcg),
            least(col("n_rel"), lit(fuseDepth.toLong)).cast(IntegerType)))
          .otherwise(lit(0L)))
      .withColumn("ndcg",
        when(col("idcg_s") > 0L,
          col("dcg_s").cast(DoubleType) / col("idcg_s").cast(DoubleType))
          .otherwise(lit(0.0)))
      .orderBy(col("q_id"))
  }

  private val q124Sql = {
    val h60 = s"${sqlStrHash("tok")} * 1073741824 + ${sqlStrHash2("tok")}"
    def qs(c: String) = s"($c % $qMod = 0 AND $c < $qCap)"
    val gains = ndcgGains.mkString("[", ", ", "]")
    val idcg = ndcgIdcg.mkString("[", ", ", "]")
    s"""WITH ${CurationQ6.bm25SqlPrefix},
       |ranked AS (SELECT q_id, doc_id, rk FROM (
       |    SELECT q_id, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY bm25_s DESC, doc_id ASC) AS rk
       |    FROM pairs) WHERE rk <= $fuseDepth),
       |toks AS (
       |  SELECT doc_id, unnest(list_distinct(${sqlTokens("text")})) AS tok FROM documents),
       |hashed AS (SELECT doc_id, $h60 AS th FROM toks),
       |bits AS (SELECT unnest(range(0, 60)) AS j),
       |votes AS (SELECT doc_id, j,
       |    SUM(CASE WHEN (th >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM hashed CROSS JOIN bits GROUP BY doc_id, j),
       |sig AS (SELECT doc_id,
       |    SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) ELSE 0 END * CAST(pow(2.0, j) AS BIGINT)) AS simhash
       |  FROM votes GROUP BY doc_id),
       |np AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM sig x JOIN sig y ON x.doc_id < y.doc_id
       |  WHERE CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) <= 2),
       |rel AS (SELECT doc_a AS q_id, doc_b AS doc_id FROM np
       |    WHERE ${qs("doc_a")} AND NOT ${qs("doc_b")}
       |  UNION ALL
       |  SELECT doc_b AS q_id, doc_a AS doc_id FROM np
       |    WHERE ${qs("doc_b")} AND NOT ${qs("doc_a")}),
       |rs AS (SELECT q_id, COUNT(*) AS n_rel FROM rel GROUP BY q_id),
       |hs AS (SELECT q_id, COUNT(*) AS n_hits,
       |    CAST(SUM(($gains)[rk]) AS BIGINT) AS dcg_s
       |  FROM ranked JOIN rel USING (q_id, doc_id) GROUP BY q_id),
       |base AS (SELECT doc_id AS q_id FROM documents WHERE ${qs("doc_id")}),
       |m AS (SELECT q_id, COALESCE(n_rel, 0) AS n_rel,
       |    COALESCE(n_hits, 0) AS n_hits, COALESCE(dcg_s, 0) AS dcg_s
       |  FROM base LEFT JOIN rs USING (q_id) LEFT JOIN hs USING (q_id)),
       |w AS (SELECT q_id, n_rel, n_hits, dcg_s,
       |    CASE WHEN n_rel > 0
       |      THEN ($idcg)[CAST(LEAST(n_rel, $fuseDepth) AS INT)]
       |      ELSE CAST(0 AS BIGINT) END AS idcg_s
       |  FROM m)
       |SELECT q_id, n_rel, n_hits, dcg_s, idcg_s,
       |  CASE WHEN idcg_s > 0 THEN CAST(dcg_s AS DOUBLE) / CAST(idcg_s AS DOUBLE)
       |    ELSE 0.0 END AS ndcg
       |FROM w ORDER BY q_id""".stripMargin
  }

  val queries: Seq[GQuery] = Seq(
    GQuery("q121_indexed_hybrid", q121, Some(q121Sql), Seq("A16", "O4", "U1", "J9")),
    GQuery("q122_decontam_width8", q122, Some(q122Sql), Seq("A16", "J9")),
    GQuery("q123_sampled_terciles", q123, Some(q123Sql), Seq("F6", "A16", "J6")),
    GQuery("q124_bm25_ndcg", q124, Some(q124Sql), Seq("A16", "O4", "A23")),
    GQuery("q132_indexed_search", q132, Some(q121Sql), Seq("A16", "O4", "U1", "J9")),
    GQuery("q135_driver_ivfpq", q135, Some(q121Sql), Seq("A16", "O4", "U1", "J9")))
}
