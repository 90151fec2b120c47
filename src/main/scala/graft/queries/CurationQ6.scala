package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.Tables
import graft.functions.IntOps.idiv
import graft.functions.TextFunctions._
import graft.operators.Bm25

/** Sixth batch of training-data curation operators — the RETRIEVAL
  * surface a corpus owner runs next to dedup and decontamination:
  * ranked lexical retrieval (BM25) for seed-document expansion and
  * benchmark-neighbourhood audits, an interpolated bigram language
  * model (one order up from [[graft.operators.UnigramLm]]'s CCNet-style
  * unigram scorer), and hybrid lexical+vector retrieval fused by
  * reciprocal-rank fusion (the standard RAG/hard-negative-mining
  * combiner).
  *
  * Numeric discipline: BM25 and RRF sum per-term scores, and the
  * interpolated LM sums a two-component mixture — sums of IEEE doubles
  * would be order-dependent, so every summed term is quantized by an
  * INTEGER division at a documented fixed-point scale (exact and
  * associative on both engines; see [[graft.functions.IntOps]]), with
  * one final display division per row producing the double.
  */
object CurationQ6 {

  /** Query/benchmark residue (the q70 convention) plus a fixed id cap:
    * a production retrieval workload is a FIXED query set while the
    * corpus grows, so the query filter pins ids below the cap — under
    * ScaleCheck's 10× synthetic (ids shifted by i·10⁸) the query set
    * then stays constant and the measured growth is the corpus side's,
    * not a manufactured workload×corpus product (q98 measures the
    * other convention: bench side deliberately scaling with the
    * corpus). */
  private[graft] val qMod = 97L
  private[graft] val qCap = 10000000L

  // --------------------------------------------------------------- q111

  /** The harness corpus draws from a 31-word vocabulary where every
    * non-"dup" term matches ~77% of documents, so
    * [[Bm25.DefaultMaxDfPermille]] (10%) would empty every query's term
    * set — the registered queries run the prune wide open (1000‰, a
    * tautology both engines evaluate identically) and rely on
    * rarest-first alone; production keeps the default cap. */
  private[graft] val dfPermille = 1000L

  /** BM25 top-5 per query over the corpus, queries = the capped doc_id
    * % 97 ≡ 0 slice, retrieval terms = each query's 8 rarest corpus
    * terms (see [[dfPermille]]). All scoring in
    * [[graft.operators.Bm25]]'s fixed-point integer arithmetic; the
    * plan's corpus-side cost is the one (doc,term) tf shuffle (cached —
    * df dimension + candidate probe both read it) plus an output-sized
    * doc-keyed re-key for document length. */
  private def q111(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isQ = (col("doc_id") % qMod === 0) && (col("doc_id") < qCap)
    val tf = graft.operators.UnigramLm
      .termFreq(docs.filter(!isQ), "doc_id", "text")
      .cache() // read thrice: dfreq, dl, candidate probe (q69 rule)
    // dl cached and shared (round 13, guide §2.2): n_docs, the stats
    // row, and the scoring join all derive from the one doc-grain
    // aggregation instead of three corpus-grain shuffles (n_docs over
    // dl ≡ COUNT(DISTINCT doc_id) over tf — same grouping key set)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")).cache()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = dl.agg(count(lit(1)).as("n_docs"))
    val qdocs = docs.filter(isQ)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(tokens(col("text")))).as("term"))
    val qt = Bm25.queryTerms(qdocs, dfreq, nDocs, dfPermille)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("bm25_s").desc, col("doc_id").asc)
    Bm25.scorePairs(tf, qt, dl, Bm25.statsFromDl(dl))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .withColumn("bm25",
        col("bm25_s").cast(DoubleType) / lit(Bm25.Scale).cast(DoubleType))
      .select(col("q_id"), col("rk"), col("doc_id"), col("n_hit"),
        col("bm25_s"), col("bm25"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Shared oracle CTE prefix: corpus tf/dl/stats/df + per-query rarest
    * retrieval terms + fixed-point BM25 pair scores (`pairs`). */
  private[queries] def bm25SqlPrefix: String = {
    val S = Bm25.Scale
    s"""corp AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents
       |  WHERE NOT (doc_id % $qMod = 0 AND doc_id < $qCap)),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(tk) AS term FROM corp) GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |st AS (SELECT COUNT(*) AS n_docs,
       |    (CAST(SUM(dl) AS BIGINT) * $S) // COUNT(*) AS avgdl_s FROM dl),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |qdocs AS (SELECT doc_id AS q_id,
       |    unnest(list_distinct(${sqlTokens("text")})) AS term
       |  FROM documents WHERE doc_id % $qMod = 0 AND doc_id < $qCap),
       |qt0 AS (SELECT q_id, qdocs.term AS term, df,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY df ASC, qdocs.term ASC) AS trk
       |  FROM qdocs JOIN dfreq USING (term) CROSS JOIN st
       |  WHERE df * 1000 <= n_docs * $dfPermille),
       |qt AS (SELECT q_id, term, df FROM qt0 WHERE trk <= ${Bm25.TermsPerQuery}),
       |cand AS (SELECT q_id, t.doc_id AS doc_id,
       |    ${Bm25.sqlScore("t.tf", "dl", "avgdl_s", "df", "n_docs")} AS sc
       |  FROM tf t JOIN qt USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
       |pairs AS (SELECT q_id, doc_id, COUNT(*) AS n_hit,
       |    CAST(SUM(sc) AS BIGINT) AS bm25_s
       |  FROM cand GROUP BY q_id, doc_id)""".stripMargin
  }

  private val q111Sql =
    s"""WITH $bm25SqlPrefix,
       |ranked AS (SELECT q_id, doc_id, n_hit, bm25_s,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY bm25_s DESC, doc_id ASC) AS rk
       |  FROM pairs)
       |SELECT q_id, rk, doc_id, n_hit, bm25_s,
       |  CAST(bm25_s AS DOUBLE) / ${Bm25.Scale}.0 AS bm25
       |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  // --------------------------------------------------------------- q112

  /** Reference slice for the bigram LM (every 7th document, the q96
    * convention). */
  private val biRefMod = 7L

  /** Fixed-point scale for the two mixture components. Headroom: the
    * p2 numerator (c2+1)·S must stay under 2⁶³ with c2 up to the
    * reference corpus token count — S = 10⁵ leaves room for ~9·10¹³
    * reference tokens (a 100 TB-scale reference slice). */
  private val lmScale = 100000L

  /** Interpolated bigram LM quality score — one model order above q96:
    * train bigram + unigram counts on the reference slice, score every
    * other document by the mean over bigram positions of the λ = 1/2
    * mixture λ·P(cur|prev) + (1−λ)·P(cur), both add-1 smoothed over the
    * reference unigram vocabulary. Each component is quantized by one
    * integer division at scale [[lmScale]] so the per-document sum is
    * an order-free integer (`mix_sum`); `mean_mix` is the single final
    * IEEE division. `keep` drops documents where unseen bigrams are the
    * majority — an exact integer comparison, q96's OOV rule one order
    * up.
    *
    * Scale shape: the corpus is scored at the bigram-OCCURRENCE grain —
    * map-side explode, broadcast model joins, then ONE doc-keyed
    * shuffle whose map-side partial aggregate compresses occurrences to
    * documents before any exchange (a first cut pre-aggregated to a
    * (doc, prev, cur) tf grain, which cost a second corpus-grain
    * shuffle on string-pair keys and measured 5.5× wall at 10× data;
    * scoring per occurrence is value-identical because the mixture
    * components depend only on the bigram). The trained models are
    * reference-vocabulary-sized derived dimensions built from the
    * reference slice alone, and broadcast. The honest ceiling: a 100 TB
    * reference slice's BIGRAM vocabulary can outgrow the broadcast
    * threshold — the same ceiling as q70's benchmark array, with the
    * same known fallback (the bucketed-decontam swap pattern: key both
    * sides by the bigram and co-locate). */
  private def q112(s: SparkSession, d: String): DataFrame = {
    import graft.operators.BigramLm
    val raw = Tables.documents(s, d)
    val uniRef = raw.filter(col("doc_id") % biRefMod === 0)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c1"))
    val biRef = BigramLm.train(
      BigramLm.bigrams(raw.filter(col("doc_id") % biRefMod === 0), "doc_id", "text"))
    val tot = uniRef.agg(sum(col("c1")).as("c_tot"), count(lit(1)).as("v_size"))
    BigramLm.bigrams(raw.filter(col("doc_id") % biRefMod =!= 0), "doc_id", "text")
      .join(broadcast(biRef), Seq("pv", "cr"), "left")
      .join(broadcast(uniRef.toDF("pv", "c1_pv")), Seq("pv"), "left")
      .join(broadcast(uniRef.toDF("cr", "c1_cr")), Seq("cr"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("p2_s", idiv((coalesce(col("c2"), lit(0L)) + 1L) * lmScale,
        coalesce(col("c1_pv"), lit(0L)) + col("v_size")))
      .withColumn("p1_s", idiv((coalesce(col("c1_cr"), lit(0L)) + 1L) * lmScale,
        col("c_tot") + col("v_size")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bi"),
        sum(col("p2_s") + col("p1_s")).as("mix_sum"),
        sum(when(col("c2").isNull, 1L).otherwise(lit(0L))).as("n_oov_bi"))
      .withColumn("mean_mix", col("mix_sum").cast(DoubleType) /
        (lit(2L * lmScale) * col("n_bi")).cast(DoubleType))
      .withColumn("keep", col("n_oov_bi") * 2L <= col("n_bi"))
      .select(col("doc_id"), col("n_bi"), col("n_oov_bi"), col("mix_sum"),
        col("mean_mix"), col("keep"))
      .orderBy(col("doc_id"))
  }

  private val q112Sql =
    s"""WITH tkl AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |bgl AS (SELECT doc_id,
       |    unnest(list_transform(range(1, len(tk)),
       |      p -> tk[p] || ' ' || tk[p + 1])) AS bg
       |  FROM tkl WHERE len(tk) >= 2),
       |btf AS (SELECT doc_id, string_split(bg, ' ')[1] AS pv,
       |    string_split(bg, ' ')[2] AS cr, COUNT(*) AS btf
       |  FROM bgl GROUP BY ALL),
       |uref AS (SELECT term, COUNT(*) AS c1
       |  FROM (SELECT unnest(tk) AS term FROM tkl WHERE doc_id % $biRefMod = 0)
       |  GROUP BY term),
       |bref AS (SELECT pv, cr, CAST(SUM(btf) AS BIGINT) AS c2
       |  FROM btf WHERE doc_id % $biRefMod = 0 GROUP BY pv, cr),
       |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS c_tot, COUNT(*) AS v_size FROM uref),
       |sc AS (SELECT b.doc_id AS doc_id, b.btf AS btf,
       |    ((COALESCE(c2, 0) + 1) * $lmScale) // (COALESCE(u1.c1, 0) + v_size) AS p2_s,
       |    ((COALESCE(u2.c1, 0) + 1) * $lmScale) // (c_tot + v_size) AS p1_s,
       |    CASE WHEN c2 IS NULL THEN b.btf ELSE 0 END AS oov
       |  FROM btf b
       |  LEFT JOIN bref USING (pv, cr)
       |  LEFT JOIN uref u1 ON b.pv = u1.term
       |  LEFT JOIN uref u2 ON b.cr = u2.term
       |  CROSS JOIN tot
       |  WHERE b.doc_id % $biRefMod <> 0),
       |agg AS (SELECT doc_id, CAST(SUM(btf) AS BIGINT) AS n_bi,
       |    CAST(SUM(btf * (p2_s + p1_s)) AS BIGINT) AS mix_sum,
       |    CAST(SUM(oov) AS BIGINT) AS n_oov_bi
       |  FROM sc GROUP BY doc_id)
       |SELECT doc_id, n_bi, n_oov_bi, mix_sum,
       |  CAST(mix_sum AS DOUBLE) / CAST(${2L * lmScale} * n_bi AS DOUBLE) AS mean_mix,
       |  n_oov_bi * 2 <= n_bi AS keep
       |FROM agg ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q113

  /** Ranks fused per fusion constant 60 (the standard RRF k) — the
    * constants live in [[graft.operators.Rrf]], the one definition the
    * driver's packaged hybrid search shares. */
  private[graft] val rrfK = graft.operators.Rrf.K
  private[graft] val rrfScale = graft.operators.Rrf.Scale
  private[graft] val fuseDepth = 10

  /** Hybrid retrieval: BM25 top-10 (q111's construction) and cosine
    * top-10 (q34's construction, queries = the capped vec_id % 97 ≡ 0
    * slice) fused by reciprocal-rank fusion Σ 1/(60 + rank) — each
    * reciprocal quantized by one integer division at [[rrfScale]], so
    * the fused score is an order-free integer sum. Lists are joined
    * FULL OUTER on (query, document): a document missing from one list
    * contributes only the other's reciprocal (rb/rv surface 0 for
    * "absent"). Top-5 fused per query.
    *
    * Scale shape: both candidate lists are workload×depth-sized before
    * the fusion join, which is therefore tiny; the vector side is the
    * q34 broadcast-probe scan (an index-backed variant is q55/q77 —
    * brute force is the exact contract here). */
  private def q113(s: SparkSession, d: String): DataFrame = {
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
    val lex = Bm25.scorePairs(tf,
      Bm25.queryTerms(qdocs, dfreq, nDocs, dfPermille), dl,
      Bm25.statsFromDl(dl))
      .withColumn("rb", row_number().over(wb))
      .filter(col("rb") <= fuseDepth)
      .select(col("q_id"), col("doc_id"), col("rb"))

    val emb = Tables.embeddings(s, d)
      .withColumn("nrm", sqrt(SimilarityQ.dotFold(col("embedding"), col("embedding"))))
    val isQv = (col("vec_id") % qMod === 0) && (col("vec_id") < qCap)
    val qv = emb.filter(isQv)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val wv = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("doc_id").asc)
    val vec = emb.filter(!isQv)
      .crossJoin(broadcast(qv))
      .withColumn("cos", SimilarityQ.dotFold(col("embedding"), col("q_emb")) /
        (col("nrm") * col("q_nrm")))
      .select(col("q_id"), col("vec_id").as("doc_id"), col("cos"))
      .withColumn("rv", row_number().over(wv))
      .filter(col("rv") <= fuseDepth)
      .select(col("q_id"), col("doc_id"), col("rv"))

    val wf = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_s").desc, col("doc_id").asc)
    lex.join(vec, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf_s",
        coalesce(idiv(lit(rrfScale), col("rb") + rrfK), lit(0L)) +
          coalesce(idiv(lit(rrfScale), col("rv") + rrfK), lit(0L)))
      .withColumn("rk", row_number().over(wf))
      .filter(col("rk") <= 5)
      .withColumn("rrf",
        col("rrf_s").cast(DoubleType) / lit(rrfScale).cast(DoubleType))
      .select(col("q_id"), col("rk"), col("doc_id"),
        coalesce(col("rb"), lit(0)).as("rb"),
        coalesce(col("rv"), lit(0)).as("rv"),
        col("rrf_s"), col("rrf"))
      .orderBy(col("q_id"), col("rk"))
  }

  private val q113Sql =
    s"""WITH $bm25SqlPrefix,
       |lex AS (SELECT q_id, doc_id, rb FROM (
       |    SELECT q_id, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY bm25_s DESC, doc_id ASC) AS rb
       |    FROM pairs) WHERE rb <= $fuseDepth),
       |emb AS (SELECT vec_id, embedding,
       |    sqrt(${SimilarityQ.sqlDotFold("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |qv AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
       |  FROM emb WHERE vec_id % $qMod = 0 AND vec_id < $qCap),
       |vsc AS (SELECT q_id, vec_id AS doc_id,
       |    ${SimilarityQ.sqlDotFold("embedding", "q_emb")} / (nrm * q_nrm) AS cos
       |  FROM emb CROSS JOIN qv
       |  WHERE NOT (vec_id % $qMod = 0 AND vec_id < $qCap)),
       |vec AS (SELECT q_id, doc_id, rv FROM (
       |    SELECT q_id, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY cos DESC, doc_id ASC) AS rv
       |    FROM vsc) WHERE rv <= $fuseDepth),
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

  // --------------------------------------------------------------- q114

  /** Two-tier benchmark decontamination: q70's exact semantics with a
    * Bloom-filter gate ([[graft.operators.BloomDecontam]]) in front of
    * the exact sorted-intersect tier. The gate has no false negatives,
    * so the result is IDENTICAL to the exact tier alone — the oracle is
    * q70's SQL verbatim, the same proven-exact-by-shared-oracle move as
    * q89. The corpus side stays pure map work: a short-circuiting
    * per-shingle bit probe, then the merge-intersect only on gated
    * survivors (true overlaps + the ~1% fpp sliver). Bench side is read
    * twice (filter build + exact array) — both benchmark-set-sized. */
  private def q114(s: SparkSession, d: String): DataFrame = {
    import graft.operators.BloomDecontam
    import org.apache.spark.sql.types.LongType
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), wordShingles3(col("tk")).as("sh"))
    val benchHashes = sh.filter(col("doc_id") % 97 === 0)
      .select(explode(col("sh")).as("h")).distinct()
    // ~10 bits/item at the registered scale's bench-set size; at fleet
    // scale size from a bench count() — the layout must only be
    // deterministic, not tuned
    val bloom = BloomDecontam.trainBits(benchHashes, "h", 100000L, 1000000L)
    val benchArr = benchHashes.agg(array_sort(collect_set(col("h"))).as("bench_sh"))
    // Gate and exact tier live in ONE projection above the broadcast
    // join: a standalone `.filter(anyHit)` below the join gets
    // predicate-pushed through the shingle/token projections, where the
    // substitution re-inlines the tokenizer into per-element lambdas —
    // the O(L²) re-evaluation trap (measured 6.7× the shingle pass).
    // Behind the join barrier the shingle array stays a multiply-
    // referenced attribute (evaluated once), and the conditional skips
    // the merge-intersect for every undated document.
    sh.filter(col("doc_id") % 97 =!= 0)
      .crossJoin(broadcast(benchArr))
      .withColumn("n_sh", size(col("sh")).cast(LongType))
      .withColumn("n_overlap",
        when(BloomDecontam.anyHit(bloom, col("sh")),
          call_function("sorted_intersect_count", col("sh"), col("bench_sh")))
          .otherwise(lit(0)).cast(LongType))
      .filter(col("n_overlap") > 0)
      .withColumn("contam_ratio",
        col("n_overlap").cast(DoubleType) / col("n_sh").cast(DoubleType))
      .select(col("doc_id"), col("n_sh"), col("n_overlap"), col("contam_ratio"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------------- q115

  /** Merge rounds for the end-to-end tokenizer query. Low enough that
    * every round's argmax count is ≫ the trainer's minCount on this
    * corpus (no early stop — the oracle unrolls exactly this many
    * rounds); the Spark side asserts the merge count so a pathological
    * corpus fails loudly instead of silently diverging. */
  private val bpeRounds = 4

  /** The full tokenizer loop, train + APPLY: learn [[bpeRounds]] BPE
    * merges on the corpus ([[graft.operators.Bpe.train]] — one corpus
    * pass, then vocabulary-sized merge rounds each ending in a bounded
    * TakeOrdered(1)), then ENCODE every document with the learned
    * sequence ([[graft.operators.Bpe.encode]] — a chain of map-side
    * `aggregate` folds, zero shuffle) and report per-document token
    * statistics. The oracle unrolls the training rounds as CTEs (the
    * q77 move) and replays each merge with a separator-string
    * `replace` — greedy left-to-right non-re-merging, the same
    * single-pass semantics as the operator's fold (both turn
    * "aaaa" into [aa, aa] under an (a,a) merge). */
  private def q115(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Bpe
    val docs = Tables.documents(s, d)
    val (merges, _) = Bpe.train(docs, "text", bpeRounds)
    require(merges.size == bpeRounds,
      s"trainer stopped early (${merges.size}/$bpeRounds merges) — oracle unrolls $bpeRounds")
    Bpe.encode(docs, "text", merges)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).as("n_wchars"),
        sum(size(col("syms"))).as("n_bpe"))
      .withColumn("ratio",
        col("n_wchars").cast(DoubleType) / col("n_bpe").cast(DoubleType))
      .select(col("doc_id"), col("n_words"), col("n_wchars"), col("n_bpe"),
        col("ratio"))
      .orderBy(col("doc_id"))
  }

  private val bpeSep = "chr(1)"

  /** The oracle's BPE TRAIN prefix — `tk/wf/v0` plus [[bpeRounds]]
    * unrolled merge rounds (`p_r`/`m_r`/`v_{r+1}`), trained over
    * `documents` restricted by `trainWhere` (empty = whole corpus).
    * Shared by q115 (train on all) and q137 (train on the corpus
    * split, encode the arrival split). */
  private def bpeTrainCtes(trainWhere: String): String = {
    val sep = bpeSep
    val sb = new StringBuilder
    sb ++= s"""WITH tk AS (SELECT unnest(${sqlTokens("text")}) AS w FROM documents $trainWhere),
              |wf AS (SELECT w, COUNT(*) AS freq FROM tk GROUP BY w),
              |v0 AS (SELECT w, freq, array_to_string(string_split(w, ''), $sep) AS sy FROM wf),
              |""".stripMargin
    for (r <- 0 until bpeRounds) {
      sb ++= s"""p$r AS (SELECT string_split(bg, $sep)[1] AS lft,
                |    string_split(bg, $sep)[2] AS rgt, CAST(SUM(freq) AS BIGINT) AS cnt
                |  FROM (SELECT freq, unnest(list_transform(range(1, len(sl)),
                |      i -> sl[i] || $sep || sl[i + 1])) AS bg
                |    FROM (SELECT freq, string_split(sy, $sep) AS sl FROM v$r)
                |    WHERE len(sl) >= 2)
                |  GROUP BY 1, 2),
                |m$r AS (SELECT lft, rgt FROM p$r
                |  ORDER BY cnt DESC, lft ASC, rgt ASC LIMIT 1),
                |v${r + 1} AS (SELECT w, freq,
                |    replace(sy, lft || $sep || rgt, lft || rgt) AS sy
                |  FROM v$r CROSS JOIN m$r),
                |""".stripMargin
    }
    sb.toString
  }

  /** The oracle's ENCODE chain — `e0..e_bpeRounds` replaying the
    * learned merges over EVERY document's words. */
  private def bpeEncodeCtes: String = {
    val sep = bpeSep
    val sb = new StringBuilder
    sb ++= s"""e0 AS (SELECT doc_id, w, array_to_string(string_split(w, ''), $sep) AS sy
              |  FROM (SELECT doc_id, unnest(${sqlTokens("text")}) AS w FROM documents)),
              |""".stripMargin
    for (r <- 0 until bpeRounds) {
      sb ++= s"""e${r + 1} AS (SELECT doc_id, w,
                |    replace(sy, lft || $sep || rgt, lft || rgt) AS sy
                |  FROM e$r CROSS JOIN m$r),
                |""".stripMargin
    }
    sb.toString
  }

  private val q115Sql =
    bpeTrainCtes("") + bpeEncodeCtes +
      s"""agg AS (SELECT doc_id, COUNT(*) AS n_words,
         |    CAST(SUM(length(w)) AS BIGINT) AS n_wchars,
         |    CAST(SUM(len(string_split(sy, $bpeSep))) AS BIGINT) AS n_bpe
         |  FROM e$bpeRounds GROUP BY doc_id)
         |SELECT doc_id, n_words, n_wchars, n_bpe,
         |  CAST(n_wchars AS DOUBLE) / CAST(n_bpe AS DOUBLE) AS ratio
         |FROM agg ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q137

  /** Per-source TOKENIZER-COVERAGE drift — q133's sibling on the
    * vocabulary axis, the monitor that catches a corpus outgrowing its
    * tokenizer: train the BPE merges on the CORPUS split (the first 80%
    * of the id range — ids ascend with arrival, so this is the
    * time-like "already ingested" prefix), encode EVERYTHING with the
    * learned sequence, and report each source's compression ratio
    * (chars per BPE symbol) on the corpus vs the arrival split. A
    * source whose arrivals drift away from the trained vocabulary (new
    * jargon, new language mix) compresses worse — `drift` goes
    * negative, the signal to schedule a tokenizer refresh before
    * training pays the token bloat. A source seen ONLY in arrivals (the
    * strongest outgrow signal) still reports: its corpus-side ratio and
    * drift are null, n_delta_docs carries the volume. Scale shape:
    * train is q97/q115's bounded-rounds loop; the measurement itself is
    * one map-side encode (a chain of `aggregate` folds, zero shuffle)
    * plus ONE per-source conditional aggregation — O(sources) output,
    * a single corpus-scan input, no self-join, no state. */
  private def q137(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Bpe
    val docs = Tables.documents(s, d)
    // TIME-like split (ids ascend with arrival): corpus = first 80% of
    // the id range, delta = last 20%. A modulo split would degenerate
    // here — the synthetic corpus assigns source by doc_id modulo, so
    // every source would land wholly in one half and the per-source
    // comparison would be vacuous. Integer arithmetic (id*5 vs max*4)
    // keeps the threshold bit-identical across engines. Eager like
    // q115's trainer (the merge loop is inherently driver-stepped);
    // null-safe so an empty table fails in the trainer's require, not
    // an NPE here.
    val maxRow = docs.agg(max(col("doc_id"))).head()
    val maxId = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    val (merges, _) =
      Bpe.train(docs.filter(col("doc_id") * 5 < maxId * 4), "text", bpeRounds)
    require(merges.size == bpeRounds,
      s"trainer stopped early (${merges.size}/$bpeRounds merges) — oracle unrolls $bpeRounds")
    // encode passes source through (per-word rows keep the doc's cols);
    // one conditional aggregation per source — the corpus/delta halves
    // are when()-gated sums over the SAME pass, so the heavy encode
    // fold runs once and one-sided sources survive (null other half).
    val isDelta = col("doc_id") * 5 >= maxId * 4
    def side(cond: Column, x: Column) = sum(when(cond, x)).cast(LongType)
    Bpe.encode(docs, "text", merges)
      .groupBy(col("source"))
      .agg(countDistinct(when(isDelta, col("doc_id"))).as("n_delta_docs"),
        side(!isDelta, length(col("w"))).as("c_wchars"),
        side(!isDelta, size(col("syms"))).as("c_bpe"),
        side(isDelta, length(col("w"))).as("d_wchars"),
        side(isDelta, size(col("syms"))).as("d_bpe"))
      .withColumn("corpus_ratio",
        col("c_wchars").cast(DoubleType) / col("c_bpe").cast(DoubleType))
      .withColumn("delta_ratio",
        col("d_wchars").cast(DoubleType) / col("d_bpe").cast(DoubleType))
      .withColumn("drift", col("delta_ratio") - col("corpus_ratio"))
      .select(col("source"), col("n_delta_docs"), col("corpus_ratio"),
        col("delta_ratio"), col("drift"))
      .orderBy(col("source"))
  }

  private val q137Sql =
    bpeTrainCtes(
      "WHERE doc_id * 5 < 4 * (SELECT MAX(doc_id) FROM documents)") +
      bpeEncodeCtes +
      s"""agg AS (SELECT d.source AS source,
         |    COUNT(DISTINCT CASE WHEN e.doc_id * 5 >= 4 * (SELECT MAX(doc_id) FROM documents)
         |      THEN e.doc_id END) AS n_delta_docs,
         |    CAST(SUM(CASE WHEN e.doc_id * 5 < 4 * (SELECT MAX(doc_id) FROM documents)
         |      THEN length(e.w) END) AS BIGINT) AS c_wchars,
         |    CAST(SUM(CASE WHEN e.doc_id * 5 < 4 * (SELECT MAX(doc_id) FROM documents)
         |      THEN len(string_split(e.sy, $bpeSep)) END) AS BIGINT) AS c_bpe,
         |    CAST(SUM(CASE WHEN e.doc_id * 5 >= 4 * (SELECT MAX(doc_id) FROM documents)
         |      THEN length(e.w) END) AS BIGINT) AS d_wchars,
         |    CAST(SUM(CASE WHEN e.doc_id * 5 >= 4 * (SELECT MAX(doc_id) FROM documents)
         |      THEN len(string_split(e.sy, $bpeSep)) END) AS BIGINT) AS d_bpe
         |  FROM e$bpeRounds e JOIN documents d ON e.doc_id = d.doc_id
         |  GROUP BY 1)
         |SELECT source, n_delta_docs,
         |  CAST(c_wchars AS DOUBLE) / CAST(c_bpe AS DOUBLE) AS corpus_ratio,
         |  CAST(d_wchars AS DOUBLE) / CAST(d_bpe AS DOUBLE) AS delta_ratio,
         |  CAST(d_wchars AS DOUBLE) / CAST(d_bpe AS DOUBLE)
         |    - CAST(c_wchars AS DOUBLE) / CAST(c_bpe AS DOUBLE) AS drift
         |FROM agg ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q116

  /** Train/test leakage audit — the split-hygiene check a corpus owner
    * runs after splitting: near-duplicate pairs (the q78 SimHash60
    * generator, 3×20-bit bands, Hamming ≤ 2) whose members landed in
    * DIFFERENT q71 splits. Each such pair leaks evaluation signal into
    * training. The oracle re-derives the pairs with no banding at all
    * (brute force over signatures) and re-tags both sides — so the
    * audit's pair set and its split arithmetic are both gate-checked.
    * Scale shape: the pair generator's (q78's, banded + broadcast);
    * split tagging is two map-side hashes on the pair output. */
  private def q116(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.StringType
    def splitOf(id: org.apache.spark.sql.Column) = {
      val h = strHash(concat(lit("split:"), id.cast(StringType))) % 10
      when(h < 8, "train").when(h === 8, "val").otherwise("test")
    }
    ScaleQ.simhash60Pairs(Tables.documents(s, d), bands = 3, bits = 20, maxHam = 2)
      .withColumn("split_a", splitOf(col("doc_a")))
      .withColumn("split_b", splitOf(col("doc_b")))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        col("split_a"), col("split_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val q116Sql = {
    val h60 = s"${sqlStrHash("tok")} * 1073741824 + ${sqlStrHash2("tok")}"
    def splitSql(id: String) = {
      val h = sqlStrHash(s"concat('split:', CAST($id AS VARCHAR))")
      s"CASE WHEN ($h) % 10 < 8 THEN 'train' WHEN ($h) % 10 = 8 THEN 'val' ELSE 'test' END"
    }
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_distinct(${sqlTokens("text")})) AS tok FROM documents),
       |hashed AS (SELECT doc_id, $h60 AS th FROM toks),
       |bits AS (SELECT unnest(range(0, 60)) AS j),
       |votes AS (SELECT doc_id, j,
       |    SUM(CASE WHEN (th >> CAST(j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM hashed CROSS JOIN bits GROUP BY doc_id, j),
       |sig AS (SELECT doc_id,
       |    SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) ELSE 0 END * CAST(pow(2.0, j) AS BIGINT)) AS simhash
       |  FROM votes GROUP BY doc_id),
       |pairs AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
       |  FROM sig x JOIN sig y ON x.doc_id < y.doc_id
       |  WHERE CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) <= 2)
       |SELECT doc_a, doc_b, hamming,
       |  ${splitSql("doc_a")} AS split_a, ${splitSql("doc_b")} AS split_b
       |FROM pairs
       |WHERE (${splitSql("doc_a")}) <> (${splitSql("doc_b")})
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --------------------------------------------------------------- q117

  /** Decontamination REWRITE — the span-surgery alternative to q70's
    * document-level flag: instead of dropping a contaminated document,
    * drop exactly the tokens covered by benchmark-overlapping word
    * 3-grams and keep the rest. A token at position i survives unless
    * some contaminated gram start g covers it (g ≤ i ≤ g+2).
    *
    * Scale shape: the corpus side is one map-side gram explode probed
    * by the broadcast benchmark hash set — only CONTAMINATED (doc,
    * gram) rows shuffle (output-sized), collected to a per-doc gram
    * list; the rewrite is a per-row filter/join over the token array
    * against that (small) list. The doc-keyed join bringing the gram
    * list back is left unhinted — a production benchmark contaminates
    * a sliver of the corpus (AQE broadcasts the sliver); this synthetic
    * corpus shares a 31-word vocabulary, so a third of it overlaps. */
  private def q117(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
    val gram3 = (tk: org.apache.spark.sql.Column, g: org.apache.spark.sql.Column) =>
      strHash(concat_ws(" ", element_at(tk, g), element_at(tk, g + 1),
        element_at(tk, g + 2)))
    val grams = docs.filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("tk")) - 2),
          g => struct(g.as("g"), gram3(col("tk"), g).as("h")))).as("gr"))
      .select(col("doc_id"), col("gr.g").as("g"), col("gr.h").as("h"))
    val bench = grams.filter(col("doc_id") % 97 === 0)
      .select(col("h")).distinct()
    val cl = grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("g"))).as("cg"))
    docs.filter(col("doc_id") % 97 =!= 0)
      .join(cl, Seq("doc_id"), "left")
      .withColumn("cg", coalesce(col("cg"), array().cast("array<int>")))
      .withColumn("kept",
        filter(sequence(lit(1), size(col("tk"))),
          i => !exists(col("cg"), g => g <= i && i <= g + 2)))
      .select(col("doc_id"),
        size(col("tk")).cast(LongType).as("n_tok"),
        size(col("cg")).cast(LongType).as("n_contam"),
        (size(col("tk")) - size(col("kept"))).cast(LongType).as("n_dropped"),
        array_join(transform(col("kept"), i => element_at(col("tk"), i)), " ")
          .as("cleaned"))
      .orderBy(col("doc_id"))
  }

  private val q117Sql = {
    val gram = "concat_ws(' ', tk[g], tk[g+1], tk[g+2])"
    s"""WITH tkl AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |grams AS (SELECT doc_id, g, ${sqlStrHash(gram)} AS h
       |  FROM (SELECT doc_id, tk, CAST(unnest(range(1, len(tk) - 1)) AS INT) AS g
       |    FROM tkl WHERE len(tk) >= 3)),
       |bench AS (SELECT DISTINCT h FROM grams WHERE doc_id % 97 = 0),
       |cl AS (SELECT doc_id, list(g ORDER BY g) AS cg
       |  FROM grams JOIN bench USING (h)
       |  WHERE doc_id % 97 <> 0 GROUP BY doc_id),
       |joined AS (SELECT t.doc_id AS doc_id, tk, COALESCE(cg, []) AS cg
       |  FROM tkl t LEFT JOIN cl ON t.doc_id = cl.doc_id
       |  WHERE t.doc_id % 97 <> 0),
       |rw AS (SELECT doc_id, tk, cg,
       |    list_filter(range(1, len(tk) + 1),
       |      i -> len(list_filter(cg, g -> g <= i AND i <= g + 2)) = 0) AS kept
       |  FROM joined)
       |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
       |  CAST(len(cg) AS BIGINT) AS n_contam,
       |  CAST(len(tk) - len(kept) AS BIGINT) AS n_dropped,
       |  -- COALESCE: DuckDB's array_to_string([]) is NULL where Spark's
       |  -- array_join([]) is '' — a FULLY contaminated document (every
       |  -- token covered) must render as the empty string in both engines
       |  COALESCE(array_to_string(list_transform(kept, i -> tk[i]), ' '), '')
       |    AS cleaned
       |FROM rw ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q118

  /** Classifier evaluation harness — the holdout scorecard a corpus
    * owner reads before trusting q106's Naive-Bayes verdicts to gate
    * data: per-class true positives, false positives/negatives, and
    * precision/recall/F1 over the holdout predictions. Counts are exact
    * integers; each metric is ONE guarded final division (F1 as
    * 2·tp/(n_actual + n_pred) — the integer-rational form, no p·r
    * composition), with absent denominators surfaced as −1 instead of
    * engine-divergent division-by-zero behavior.
    *
    * Scale shape: q106's prediction plan (tf-grain shuffle + broadcast
    * model), then confusion cells — a classes²-bounded aggregate — and
    * class-dimension arithmetic. */
  private def q118(s: SparkSession, d: String): DataFrame = {
    val preds = Registry.byName("q106_nb_classifier").run(s, d)
    val cells = preds.groupBy(col("actual"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .cache() // classes²-bounded; three branches read it — without the
               // cache each would re-run the full prediction plan (q69 rule)
    val byActual = cells.groupBy(col("actual").as("cls"))
      .agg(sum(col("n")).as("n_actual"))
    val byPred = cells.groupBy(col("predicted").as("cls"))
      .agg(sum(col("n")).as("n_pred"))
    val tp = cells.filter(col("actual") === col("predicted"))
      .select(col("actual").as("cls"), col("n").as("tp"))
    def ratio(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den > 0L, num.cast(DoubleType) / den.cast(DoubleType)).otherwise(lit(-1.0))
    byActual.join(byPred, Seq("cls"), "full_outer")
      .join(tp, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision", ratio(col("tp"), col("n_pred")))
      .withColumn("recall", ratio(col("tp"), col("n_actual")))
      .withColumn("f1", ratio(col("tp") * 2L, col("n_actual") + col("n_pred")))
      .orderBy(col("cls"))
  }

  private val q118Sql =
    s"""WITH preds AS (${CurationQ5.q106Sql}),
       |cells AS (SELECT actual, predicted, COUNT(*) AS n
       |  FROM preds GROUP BY actual, predicted),
       |ba AS (SELECT actual AS cls, CAST(SUM(n) AS BIGINT) AS n_actual
       |  FROM cells GROUP BY actual),
       |bp AS (SELECT predicted AS cls, CAST(SUM(n) AS BIGINT) AS n_pred
       |  FROM cells GROUP BY predicted),
       |tp AS (SELECT actual AS cls, CAST(n AS BIGINT) AS tp FROM cells
       |  WHERE actual = predicted),
       |m AS (SELECT COALESCE(ba.cls, bp.cls) AS cls,
       |    COALESCE(n_actual, 0) AS n_actual, COALESCE(n_pred, 0) AS n_pred,
       |    COALESCE(tp, 0) AS tp
       |  FROM ba FULL OUTER JOIN bp ON ba.cls = bp.cls
       |    LEFT JOIN tp ON COALESCE(ba.cls, bp.cls) = tp.cls)
       |SELECT cls, n_actual, n_pred, tp,
       |  CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)
       |    ELSE -1.0 END AS precision,
       |  CASE WHEN n_actual > 0 THEN CAST(tp AS DOUBLE) / CAST(n_actual AS DOUBLE)
       |    ELSE -1.0 END AS recall,
       |  CASE WHEN n_actual + n_pred > 0 THEN
       |    CAST(tp * 2 AS DOUBLE) / CAST(n_actual + n_pred AS DOUBLE)
       |    ELSE -1.0 END AS f1
       |FROM m ORDER BY cls""".stripMargin

  // --------------------------------------------------------------- q119

  /** Sampling budget for the apportionment schedule (tokens). */
  private val apportionBudget = 1000000L

  /** Token-budget apportionment — q102's temperature-scaled mixture
    * turned into a CONCRETE sampling schedule: allocate an integer
    * token budget across sources by largest-remainder (Hamilton)
    * apportionment over the q_share weights. Every source gets
    * ⌊B·q_share⌋; the B − Σ⌊·⌋ leftover tokens go to the largest
    * remainders (source as the deterministic tie-break), so the
    * allocations sum to B EXACTLY — the invariant a data-loader
    * schedule needs and naive per-source rounding violates. `epochs` =
    * allocation over available tokens (how many passes a source
    * sustains — >1 flags upsampling).
    *
    * Scale shape: q102's one corpus pass to the source dimension; all
    * apportionment arithmetic — including the unkeyed remainder-rank
    * window — runs on the ≤ n_sources-row dimension (the q71 rule). */
  private def q119(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val base = Registry.byName("q102_temperature_mixture").run(s, d)
      .withColumn("quota", col("q_share") * apportionBudget)
      .withColumn("base", floor(col("quota")).cast(LongType))
      .withColumn("rem", col("quota") - col("base"))
    val extra = base.agg((lit(apportionBudget) - sum(col("base"))).as("r_extra"))
    val w = Window.orderBy(col("rem").desc, col("source").asc)
    base.crossJoin(broadcast(extra))
      .withColumn("rk", row_number().over(w))
      .withColumn("alloc",
        col("base") + when(col("rk") <= col("r_extra"), 1L).otherwise(0L))
      .withColumn("epochs",
        col("alloc").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .select(col("source"), col("n_tokens"), col("q_share"), col("base"),
        col("alloc"), col("epochs"))
      .orderBy(col("source"))
  }

  private val q119Sql = {
    val B = apportionBudget
    s"""WITH mix AS (${CurationQ4.q102Sql}),
       |b AS (SELECT source, n_tokens, q_share,
       |    CAST(FLOOR(q_share * $B) AS BIGINT) AS base,
       |    q_share * $B - CAST(FLOOR(q_share * $B) AS BIGINT) AS rem
       |  FROM mix),
       |x AS (SELECT $B - CAST(SUM(base) AS BIGINT) AS r_extra FROM b),
       |r AS (SELECT source, n_tokens, q_share, base, rem,
       |    ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk
       |  FROM b)
       |SELECT source, n_tokens, q_share, base,
       |  base + CASE WHEN rk <= r_extra THEN 1 ELSE 0 END AS alloc,
       |  CAST(base + CASE WHEN rk <= r_extra THEN 1 ELSE 0 END AS DOUBLE) /
       |    CAST(n_tokens AS DOUBLE) AS epochs
       |FROM r CROSS JOIN x ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------- q120

  /** Retrieval-quality harness — q72's role for the lexical path: score
    * BM25's top-10 against near-duplicate ground truth. A query's
    * RELEVANT set is its SimHash60 near-dups in the corpus (the q78
    * generator — documents that genuinely share content); per query the
    * harness reports how many relevants exist, how many BM25 retrieved
    * in its top-10, and the reciprocal rank of the first hit (0 when
    * none) — per-query rows, no order-dependent global mean. `rr` is
    * one final division of small integers.
    *
    * Scale shape: q111's scoring plan at depth 10 + the banded pair
    * generator + workload-sized joins over the two lists.
    *
    * Measured finding (sf0.01): MRR is LOW on this harness corpus — its
    * 31-word vocabulary gives near-uniform df, so idf has almost no
    * discrimination and the rarest-8 term selection is close to
    * arbitrary, while SimHash ground truth reflects full token
    * multisets. That is the harness doing its job (quantifying a
    * retrieval/ground-truth mismatch), not a defect: on a Zipfian
    * corpus rare-term overlap is precisely what surfaces near-dups. No
    * recall floor is pinned here — it would encode a property of the
    * synthetic vocabulary, not of the operator. */
  private def q120(s: SparkSession, d: String): DataFrame = {
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
      .agg(count(lit(1)).as("n_hits"), min(col("rk")).as("first_rank"))
    docs.filter(isQ).select(col("doc_id").as("q_id"))
      .join(relStats, Seq("q_id"), "left")
      .join(hitStats, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("first_rank"), lit(0)).as("first_rank"),
        when(col("first_rank").isNotNull,
          lit(1.0) / col("first_rank").cast(DoubleType)).otherwise(lit(0.0))
          .as("rr"))
      .orderBy(col("q_id"))
  }

  private val q120Sql = {
    val h60 = s"${sqlStrHash("tok")} * 1073741824 + ${sqlStrHash2("tok")}"
    def qs(c: String) = s"($c % $qMod = 0 AND $c < $qCap)"
    s"""WITH $bm25SqlPrefix,
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
       |hs AS (SELECT q_id, COUNT(*) AS n_hits, MIN(rk) AS first_rank
       |  FROM ranked JOIN rel USING (q_id, doc_id) GROUP BY q_id),
       |base AS (SELECT doc_id AS q_id FROM documents WHERE ${qs("doc_id")})
       |SELECT q_id, COALESCE(n_rel, 0) AS n_rel, COALESCE(n_hits, 0) AS n_hits,
       |  COALESCE(first_rank, 0) AS first_rank,
       |  CASE WHEN first_rank IS NOT NULL THEN 1.0 / CAST(first_rank AS DOUBLE)
       |    ELSE 0.0 END AS rr
       |FROM base LEFT JOIN rs USING (q_id) LEFT JOIN hs USING (q_id)
       |ORDER BY q_id""".stripMargin
  }

  val queries: Seq[GQuery] = Seq(
    GQuery("q111_bm25_topk", q111, Some(q111Sql), Seq("A16", "O4", "W5")),
    GQuery("q112_bigram_lm", q112, Some(q112Sql), Seq("F6", "A16", "J6")),
    GQuery("q113_rrf_hybrid", q113, Some(q113Sql), Seq("A16", "O4", "U1")),
    GQuery("q114_bloom_decontam", q114, Some(CurationQ.q70Sql), Seq("A16", "J9")),
    GQuery("q115_bpe_encode", q115, Some(q115Sql), Seq("A17", "C12", "F11")),
    GQuery("q116_split_leakage", q116, Some(q116Sql), Seq("A16", "U1", "F10")),
    GQuery("q137_tokenizer_drift", q137, Some(q137Sql), Seq("A17", "F10", "F11")),
    GQuery("q117_decontam_rewrite", q117, Some(q117Sql), Seq("A16", "J9", "C12")),
    GQuery("q118_nb_eval", q118, Some(q118Sql), Seq("F10", "A17", "U1")),
    GQuery("q119_token_apportion", q119, Some(q119Sql), Seq("A17", "W5", "O1")),
    GQuery("q120_bm25_mrr", q120, Some(q120Sql), Seq("A16", "O4", "A23")))
}
