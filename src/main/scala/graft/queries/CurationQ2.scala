package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.TextFunctions._
import SimilarityQ.sqlDotFold

/** Second batch of training-data curation operators: repetition-based
  * quality filtering (the Gopher/RefinedWeb rule family), fixed-size
  * token chunking, PII scrubbing, domain mixture weighting, and
  * product-quantization ANN — the remaining operations a 100 TB corpus
  * pipeline runs between raw crawl and tokenized shards.
  *
  * Same scale discipline as [[CurationQ]]: per-document work is map-side
  * Column algebra; shuffles are keyed only on grains that grow with the
  * corpus (doc_id, (doc_id, term), (q_id, vec_id)); every derived
  * dimension (codebooks, per-source weights, probe distance tables) is
  * broadcast.
  */
object CurationQ2 {

  // ---------------------------------------------------------------- q83

  /** Repetition-based quality stats per document (the Gopher rule set,
    * re-expressed relationally): most-frequent unigram / bigram count
    * fractions and the distinct-token ratio, each the division of two
    * exact integers (bitwise-portable), plus the composite keep verdict.
    * Two keyed aggregations at the (doc, term) grain and a doc-grain
    * join — no corpus-wide state, no window wider than one document. */
  private def q83(s: SparkSession, d: String): DataFrame = {
    val tk = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
    val uni = tk.select(col("doc_id"), explode(col("tk")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val wUni = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("term").asc)
    // Stats and argmax in ONE pass over `uni`: the rank window and the
    // doc-grain aggregate share the doc_id partitioning (exchange
    // reuse), where separate stats/top branches would each replay the
    // explode + (doc, term) shuffle.
    val uniStats = uni.withColumn("rk", row_number().over(wUni))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        max(when(col("rk") === 1, col("term"))).as("top_term"),
        max(when(col("rk") === 1, col("tf"))).as("top_tf"))
    // bigrams from the MATERIALIZED token array (HOF-lambda contract)
    val bg = tk.withColumn("n", size(col("tk")))
      .filter(col("n") >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), col("n") - 1),
          g => concat_ws(" ", element_at(col("tk"), g), element_at(col("tk"), g + 1))))
          .as("bg"))
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("btf"))
    val wBg = Window.partitionBy(col("doc_id"))
      .orderBy(col("btf").desc, col("bg").asc)
    val bgTop = bg.withColumn("rk", row_number().over(wBg))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("bg").as("top_bigram"), col("btf").as("top_bg_tf"))
    // LEFT join: a 1-token document has no bigram row but still needs a
    // verdict (it is maximally repetitive on the unigram axis — an inner
    // join would silently exempt it from filtering)
    uniStats.join(bgTop, Seq("doc_id"), "left")
      .withColumn("top_bigram", coalesce(col("top_bigram"), lit("")))
      .withColumn("top_bg_tf", coalesce(col("top_bg_tf"), lit(0L)))
      .withColumn("top_frac",
        col("top_tf").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("bg_frac",
        when(col("n_tokens") > 1,
          col("top_bg_tf").cast(DoubleType) / (col("n_tokens") - 1).cast(DoubleType))
          .otherwise(0.0))
      .withColumn("distinct_ratio",
        col("n_distinct").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("repetition_pass",
        col("top_frac") <= 0.15 && col("bg_frac") <= 0.08 && col("distinct_ratio") >= 0.25)
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("top_term"), col("top_tf"), col("top_frac"),
        col("top_bigram"), col("top_bg_tf"), col("bg_frac"),
        col("distinct_ratio"), col("repetition_pass"))
      .orderBy(col("doc_id"))
  }

  private val q83Sql =
    s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |uni AS (SELECT doc_id, unnest(tk) AS term FROM tk),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM uni GROUP BY doc_id, term),
       |stats AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct FROM tf GROUP BY doc_id),
       |unitop AS (SELECT doc_id, term AS top_term, tf AS top_tf FROM (
       |    SELECT doc_id, term, tf,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS rk
       |    FROM tf) WHERE rk = 1),
       |bgl AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
       |    g -> concat_ws(' ', tk[g], tk[g+1]))) AS bg
       |  FROM tk WHERE len(tk) >= 2),
       |btf AS (SELECT doc_id, bg, COUNT(*) AS btf FROM bgl GROUP BY doc_id, bg),
       |bgtop AS (SELECT doc_id, bg AS top_bigram, btf AS top_bg_tf FROM (
       |    SELECT doc_id, bg, btf,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY btf DESC, bg ASC) AS rk
       |    FROM btf) WHERE rk = 1),
       |j AS (SELECT s.doc_id AS doc_id, n_tokens, n_distinct, top_term, top_tf,
       |    CAST(top_tf AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_frac,
       |    COALESCE(top_bigram, '') AS top_bigram,
       |    COALESCE(top_bg_tf, 0) AS top_bg_tf,
       |    CASE WHEN n_tokens > 1
       |      THEN CAST(COALESCE(top_bg_tf, 0) AS DOUBLE) / CAST(n_tokens - 1 AS DOUBLE)
       |      ELSE 0.0 END AS bg_frac,
       |    CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_ratio
       |  FROM stats s JOIN unitop u ON s.doc_id = u.doc_id
       |       LEFT JOIN bgtop b ON s.doc_id = b.doc_id)
       |SELECT doc_id, n_tokens, n_distinct, top_term, top_tf, top_frac,
       |  top_bigram, top_bg_tf, bg_frac, distinct_ratio,
       |  (top_frac <= 0.15 AND bg_frac <= 0.08 AND distinct_ratio >= 0.25) AS repetition_pass
       |FROM j ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q84

  /** Fixed-size token chunking with overlap (size 32, stride 24) — the
    * tokenize-and-chunk step that turns documents into training
    * sequences. Chunk starts come from an integer sequence over the
    * materialized token array, so the whole operator is one map-side
    * explode: zero shuffle, chunk grain ∝ corpus tokens. Each chunk
    * carries its poly-hash so shard contents are verifiable downstream. */
  private def q84(s: SparkSession, d: String): DataFrame = {
    val size_ = 32
    val stride = 24
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("tk"), col("n"),
        explode(sequence(lit(0), col("n") - 1, lit(stride))).as("start"))
      // drop degenerate tails: a start within the previous chunk's
      // overlap region (start + size − stride ≥ n) yields a chunk that
      // is a strict suffix of the previous one — a duplicate training
      // sequence, not new coverage
      .filter(col("start") === 0 || col("start") + lit(size_ - stride) < col("n"))
      .withColumn("chunk_idx", (col("start") / stride).cast(IntegerType))
      .withColumn("chunk", slice(col("tk"), col("start") + 1, lit(size_)))
      .withColumn("chunk_text", concat_ws(" ", col("chunk")))
      .select(col("doc_id"), col("chunk_idx"), col("start").cast(IntegerType).as("start"),
        size(col("chunk")).as("chunk_len"),
        element_at(col("chunk"), 1).as("first_tok"),
        element_at(col("chunk"), -1).as("last_tok"),
        strHash(col("chunk_text")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  private val q84Sql =
    s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |w AS (SELECT doc_id, tk, len(tk) AS n FROM tk WHERE len(tk) > 0),
       |st0 AS (SELECT doc_id, tk, n, unnest(range(0, n, 24)) AS start FROM w),
       |st AS (SELECT * FROM st0 WHERE start = 0 OR start + 8 < n),
       |ch AS (SELECT doc_id, CAST(start // 24 AS INT) AS chunk_idx,
       |    CAST(start AS INT) AS start,
       |    list_slice(tk, start + 1, least(start + 32, n)) AS chunk
       |  FROM st),
       |cs AS (SELECT doc_id, chunk_idx, start, chunk,
       |    array_to_string(chunk, ' ') AS ctext FROM ch)
       |SELECT doc_id, chunk_idx, start, CAST(len(chunk) AS INT) AS chunk_len,
       |  chunk[1] AS first_tok, chunk[len(chunk)] AS last_tok,
       |  ${sqlStrHash("ctext")} AS chunk_hash
       |FROM cs ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- q85

  /** PII scrubbing: email / phone redaction as pure map-side regex work.
    * The synthetic corpus carries no PII, so deterministic fixtures are
    * injected first (doc_id-derived, so both engines inject the same
    * strings) — the query verifies the detection counts AND the scrubbed
    * output (length + poly-hash) byte-for-byte. Patterns stay inside the
    * common Java-regex/RE2 subset: character classes and counted
    * repetition only, no lookaround. */
  private def q85(s: SparkSession, d: String): DataFrame = {
    val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phonePat = "[0-9]{3}-[0-9]{4}"
    Tables.documents(s, d)
      .withColumn("text2",
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact admin"), col("doc_id").cast(StringType),
              lit("@example.com now"))).otherwise(""),
          when(col("doc_id") % 11 === 0,
            concat(lit(" call 555-"),
              lpad((col("doc_id") % 10000).cast(StringType), 4, "0"))).otherwise("")))
      .withColumn("n_emails", regexp_count(col("text2"), lit(emailPat)).cast(LongType))
      .withColumn("n_phones", regexp_count(col("text2"), lit(phonePat)).cast(LongType))
      .filter(col("n_emails") > 0 || col("n_phones") > 0)
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("text2"), emailPat, "<EMAIL>"),
          phonePat, "<PHONE>"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        length(col("scrubbed")).cast(LongType).as("scrub_len"),
        strHash(col("scrubbed")).as("scrub_hash"))
      .orderBy(col("doc_id"))
  }

  private val q85Sql = {
    val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phonePat = "[0-9]{3}-[0-9]{4}"
    s"""WITH inj AS (SELECT doc_id, text
       |    || CASE WHEN doc_id % 7 = 0
       |         THEN ' contact admin' || CAST(doc_id AS VARCHAR) || '@example.com now'
       |         ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0
       |         THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |         ELSE '' END AS text2
       |  FROM documents),
       |cnt AS (SELECT doc_id, text2,
       |    CAST(len(regexp_extract_all(text2, '$emailPat')) AS BIGINT) AS n_emails,
       |    CAST(len(regexp_extract_all(text2, '$phonePat')) AS BIGINT) AS n_phones
       |  FROM inj),
       |scr AS (SELECT doc_id, n_emails, n_phones,
       |    regexp_replace(regexp_replace(text2, '$emailPat', '<EMAIL>', 'g'),
       |      '$phonePat', '<PHONE>', 'g') AS scrubbed
       |  FROM cnt WHERE n_emails > 0 OR n_phones > 0)
       |SELECT doc_id, n_emails, n_phones,
       |  CAST(length(scrubbed) AS BIGINT) AS scrub_len,
       |  ${sqlStrHash("scrubbed")} AS scrub_hash
       |FROM scr ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q86

  /** Domain mixture weighting: re-weight each source toward a uniform
    * token share (weight = tok_tot / (n_sources · tok_s), one IEEE
    * division over exact integers), then plan per-doc copy counts —
    * ⌊weight⌋ guaranteed epochs plus one extra copy for the
    * deterministic hash fraction of docs (the engine-reproducible form
    * of fractional-epoch sampling). The per-source dimension is tiny and
    * broadcast; the corpus side stays map-side + one source-keyed agg. */
  private def q86(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast(LongType).as("n_tok"))
    val bySrc = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_s"))
    val tot = bySrc.agg(sum(col("tok_s")).as("tok_tot"),
      count(lit(1)).as("n_sources"))
    val dim = bySrc.crossJoin(broadcast(tot))
      .withColumn("share",
        col("tok_s").cast(DoubleType) / col("tok_tot").cast(DoubleType))
      .withColumn("weight",
        col("tok_tot").cast(DoubleType) / (col("n_sources") * col("tok_s")).cast(DoubleType))
      .withColumn("epochs", floor(col("weight")))
      .withColumn("frac_scaled",
        floor((col("weight") - floor(col("weight"))) * 1000000.0))
    val planned = docs
      .join(broadcast(dim.select(col("source"), col("epochs"), col("frac_scaled"))),
        Seq("source"))
      .withColumn("extra",
        (strHash(concat(lit("mix:"), col("doc_id").cast(StringType))) % 1000000L
          < col("frac_scaled")).cast(LongType))
      .withColumn("n_copies", col("epochs") + col("extra"))
      .groupBy(col("source"))
      .agg(sum(col("n_copies")).as("planned_copies"))
    dim.join(planned, Seq("source"))
      .select(col("source"), col("n_docs"), col("tok_s").as("n_tokens"),
        col("share"), col("weight"), col("epochs"), col("planned_copies"))
      .orderBy(col("source"))
  }

  private val q86Sql =
    s"""WITH docs AS (SELECT doc_id, source,
       |    CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tok FROM documents),
       |by_src AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_s
       |  FROM docs GROUP BY source),
       |tot AS (SELECT CAST(SUM(tok_s) AS BIGINT) AS tok_tot, COUNT(*) AS n_sources FROM by_src),
       |dim AS (SELECT source, n_docs, tok_s,
       |    CAST(tok_s AS DOUBLE) / CAST(tok_tot AS DOUBLE) AS share,
       |    CAST(tok_tot AS DOUBLE) / CAST(n_sources * tok_s AS DOUBLE) AS weight
       |  FROM by_src CROSS JOIN tot),
       |dim2 AS (SELECT source, n_docs, tok_s, share, weight,
       |    CAST(FLOOR(weight) AS BIGINT) AS epochs,
       |    CAST(FLOOR((weight - FLOOR(weight)) * 1000000.0) AS BIGINT) AS frac_scaled
       |  FROM dim),
       |planned AS (SELECT d.source AS source,
       |    CAST(SUM(m.epochs + CASE WHEN
       |      ${sqlStrHash("'mix:' || CAST(d.doc_id AS VARCHAR)")} % 1000000 < m.frac_scaled
       |      THEN 1 ELSE 0 END) AS BIGINT) AS planned_copies
       |  FROM docs d JOIN dim2 m ON d.source = m.source GROUP BY d.source)
       |SELECT m.source AS source, n_docs, tok_s AS n_tokens, share, weight, epochs,
       |  planned_copies
       |FROM dim2 m JOIN planned p ON m.source = p.source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q87

  /** Product-quantization ANN with asymmetric distance computation
    * (ADC) — the memory-scale complement to the IVF path (q55/q77/q80):
    * 64-dim vectors → 8 subspaces × 8 dims, 16 centroids per subspace
    * (codebook = the lowest-id vectors, the q55 deterministic-init
    * convention). Encoding is a broadcast codebook join + per-(vec,
    * subspace) argmin; search never touches raw corpus vectors — the
    * probe-to-centroid distance table (8 probes × 8 subspaces × 16
    * centroids) broadcasts and ADC is a keyed sum over codes. Per-pair
    * distances fold over the j-sorted per-subspace array so the IEEE
    * add order is engine-identical (the q58/q59 sorted-fold rule). */
  private[queries] val pqM = 8
  private[queries] val pqDsub = 8
  private[queries] val pqNCent = 16

  /** The PQ subspace relation (vec_id, j, sub, ss) — shared by the
    * derived-codebook (q87) and trained-codebook (q90) variants, and by
    * the q93 recall harness. */
  private[queries] def pqSub(s: SparkSession, d: String): DataFrame =
    graft.operators.PQ.subspaces(Tables.embeddings(s, d), "vec_id", "embedding",
        pqM, pqDsub)
      .withColumnRenamed("id", "vec_id")

  /** Collapse a codebook relation (j, c_id, cent, cc) into ONE broadcast
    * row of j-ordered, cid-ordered nested arrays — the shape the pq_*
    * codegen kernels consume. Stays in the DAG (two aggregations over
    * the m×k codebook rows); no driver collect. */
  private[graft] def pqCodebookRow(cb: DataFrame): DataFrame =
    graft.operators.PQ.codebookRow(cb)

  /** Encode + ADC tail shared by q87/q90 (and q93's approx side), all
    * map-side via the pq_* codegen kernels: the codebook collapses to
    * one broadcast row; encoding is `pq_encode` over raw vectors at
    * corpus grain — no subspace explode, no ×k join blowup, no (vec, j)
    * argmin window (the former plan's two super-linear shuffles); each
    * probe carries its broadcast distance table and ADC is `pq_adc`
    * under the per-probe top-k window (map-side WindowGroupLimit prunes
    * before the shuffle). Arithmetic is bitwise-identical to the join
    * form — same expanded d2 tree, same ascending-j fold. */
  private[queries] def pqAdcTopK(emb: DataFrame, cb: DataFrame): DataFrame = {
    val cbRow = pqCodebookRow(cb)
    val enc = emb.crossJoin(broadcast(cbRow))
      .select(col("vec_id"),
        call_function("pq_encode", col("embedding"), col("cents"), col("ccs"))
          .as("codes"))
    val probes = emb
      .filter(col("vec_id") >= pqNCent && col("vec_id") < pqNCent + 8)
      .crossJoin(broadcast(cbRow))
      .select(col("vec_id").as("q_id"),
        call_function("pq_dtab", col("embedding"), col("cents"), col("ccs"))
          .as("dtab"))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("approx_d2").asc, col("vec_id").asc)
    enc.crossJoin(broadcast(probes))
      .withColumn("approx_d2",
        call_function("pq_adc", col("codes"), col("dtab")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("rk"), col("vec_id"), col("approx_d2"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** q87's derived codebook: the pqNCent lowest-id vectors' subspace
    * slices (the q55 deterministic-init convention). The source filter
    * pushes to the scan — the codebook build reads pqNCent rows. */
  private[queries] def pqDerivedCb(s: SparkSession, d: String): DataFrame =
    graft.operators.PQ.subspaces(
        Tables.embeddings(s, d).filter(col("vec_id") < pqNCent),
        "vec_id", "embedding", pqM, pqDsub)
      .select(col("j"), col("id").as("c_id"), col("sub").as("cent"),
        col("ss").as("cc"))

  private def q87(s: SparkSession, d: String): DataFrame =
    pqAdcTopK(Tables.embeddings(s, d), pqDerivedCb(s, d))

  private val q87Sql =
    s"""WITH sub0 AS (SELECT vec_id, unnest(range(0, 8)) AS j, embedding FROM embeddings),
       |sub AS (SELECT vec_id, CAST(j AS INT) AS j,
       |    list_slice(embedding, j * 8 + 1, j * 8 + 8) AS sub FROM sub0),
       |s2 AS (SELECT vec_id, j, sub, ${sqlDotFold("sub", "sub")} AS ss FROM sub),
       |cb AS (SELECT j, vec_id AS c_id, sub AS cent, ss AS cc FROM s2 WHERE vec_id < 16),
       |enc0 AS (SELECT s.vec_id AS vec_id, s.j AS j, c.c_id AS c_id,
       |    (s.ss - 2.0 * ${sqlDotFold("s.sub", "c.cent")}) + c.cc AS d2
       |  FROM s2 s JOIN cb c ON s.j = c.j),
       |encr AS (SELECT vec_id, j, c_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2 ASC, c_id ASC) AS rk
       |  FROM enc0),
       |enc AS (SELECT vec_id, j, c_id AS code FROM encr WHERE rk = 1),
       |qd AS (SELECT s.vec_id AS q_id, s.j AS j, c.c_id AS code,
       |    (s.ss - 2.0 * ${sqlDotFold("s.sub", "c.cent")}) + c.cc AS qd2
       |  FROM s2 s JOIN cb c ON s.j = c.j
       |  WHERE s.vec_id >= 16 AND s.vec_id < 24),
       |adc0 AS (SELECT q.q_id AS q_id, e.vec_id AS vec_id,
       |    list(q.qd2 ORDER BY e.j) AS ds
       |  FROM enc e JOIN qd q ON e.j = q.j AND e.code = q.code
       |  GROUP BY q.q_id, e.vec_id),
       |adc AS (SELECT q_id, vec_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ds), (acc, x) -> acc + x)
       |      AS approx_d2
       |  FROM adc0),
       |r AS (SELECT q_id, vec_id, approx_d2,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY approx_d2 ASC, vec_id ASC) AS rk
       |  FROM adc)
       |SELECT q_id, rk, vec_id, approx_d2 FROM r WHERE rk <= 10
       |ORDER BY q_id, rk""".stripMargin

  // ---------------------------------------------------------------- q91

  private val chunkLen = 20
  private val chunkStride = 10

  /** Cross-document repeated-chunk detection — the chunk-granular
    * approximation of exact-substring dedup (the boilerplate problem:
    * license headers, navigation chrome, templated paragraphs shared
    * across otherwise-distinct documents, which document-level near-dup
    * never sees). Each doc is cut into 20-token chunks at stride 10
    * (short docs contribute themselves as one chunk), each chunk is one
    * poly-hash; a chunk seen in ≥ 2 DISTINCT docs is boilerplate, and
    * the per-doc report (n_chunks, n_dup_chunks, dup_ratio) is what a
    * curation policy thresholds on.
    *
    * Scale shape: chunking is a map-side explode (≤ n/stride chunks per
    * doc — linear in corpus tokens); the boilerplate set is ONE groupBy
    * at chunk-hash grain; the flag-back is a keyed join at the same
    * grain and a doc-grain aggregate. No broadcast of anything
    * corpus-sized, no window, nothing quadratic — every stage keys on a
    * grain that grows linearly with the corpus. */
  private def q91(s: SparkSession, d: String): DataFrame = {
    val c = chunkLen
    val st = chunkStride
    val tk = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")))
    val starts = when(col("n") >= c,
        sequence(lit(0), ((col("n") - c) / st).cast(IntegerType) * st, lit(st)))
      .when(col("n") > 0, array(lit(0)))
      .otherwise(array().cast(ArrayType(IntegerType)))
    val chunks = tk
      .select(col("doc_id"), col("tk"), col("n"), explode(starts).as("g"))
      .withColumn("chunk_hash",
        strHash(concat_ws(" ", slice(col("tk"), col("g") + 1, least(lit(c), col("n"))))))
      .select(col("doc_id"), col("chunk_hash"))
    val boiler = chunks.groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("chunk_hash"), lit(1).as("dup"))
    chunks.join(boiler, Seq("chunk_hash"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_chunks"),
        count(col("dup")).cast(LongType).as("n_dup_chunks"))
      .withColumn("dup_ratio",
        col("n_dup_chunks").cast(DoubleType) / col("n_chunks").cast(DoubleType))
      .orderBy(col("doc_id"))
  }

  private val q91Sql = {
    val c = chunkLen
    val st = chunkStride
    s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |sized AS (SELECT doc_id, tk, CAST(len(tk) AS INT) AS n FROM tk),
       |gs AS (SELECT doc_id, tk, n,
       |    unnest(CASE WHEN n >= $c THEN range(0, ((n - $c) // $st) * $st + 1, $st)
       |                WHEN n > 0 THEN [CAST(0 AS BIGINT)]
       |                ELSE CAST([] AS BIGINT[]) END) AS g
       |  FROM sized),
       |ch AS (SELECT doc_id,
       |    ${sqlStrHash(s"array_to_string(list_slice(tk, g + 1, g + least($c, n)), ' ')")} AS chunk_hash
       |  FROM gs),
       |boiler AS (SELECT chunk_hash FROM ch GROUP BY chunk_hash
       |  HAVING COUNT(DISTINCT doc_id) >= 2),
       |flagged AS (SELECT c.doc_id AS doc_id, b.chunk_hash IS NOT NULL AS dup
       |  FROM ch c LEFT JOIN boiler b USING (chunk_hash))
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       |  CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
       |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q90

  /** PQ-ADC with TRAINED codebooks — the production "train" half q87's
    * derived codebooks stand in for: `PQ.trainCodebooks` runs
    * per-subspace Lloyd (8 subspaces × 16 centroids, 2 rounds, ALL
    * subspaces in one DAG — stages keyed by the subspace index, so the
    * round count rather than the subspace count is the number of data
    * passes), then the byte-identical encode + ADC tail of q87. The
    * oracle unrolls the Lloyd rounds per (subspace, cell) exactly as
    * q77's does for the IVF quantizer: lowest-id init, lowest-cid
    * tie-breaks, per-dimension AVG cast to float32. */
  private def q90(s: SparkSession, d: String): DataFrame = {
    val sub = pqSub(s, d)
    val cb = graft.operators.PQ.trainCodebooks(
        sub.withColumnRenamed("vec_id", "id"), pqNCent, iters = 2)
      .select(col("j"), col("cid").as("c_id"), col("cent"), col("cc"))
    pqAdcTopK(Tables.embeddings(s, d), cb)
  }

  private val q90Sql = {
    def round(prev: String, n: Int): String =
      s"""a$n AS (SELECT id, j, v, ss, cid,
         |    ROW_NUMBER() OVER (PARTITION BY id, j
         |      ORDER BY (ss - 2.0 * ${sqlDotFold("v", "cent")}) + cc ASC, cid ASC) AS rn
         |  FROM s2 JOIN $prev USING (j)),
         |m$n AS (SELECT j, cid, i, CAST(AVG(v[i + 1]) AS FLOAT) AS m
         |  FROM a$n, range(8) t(i) WHERE rn = 1 GROUP BY j, cid, i),
         |c$n AS (SELECT j, cid, cent, ${sqlDotFold("cent", "cent")} AS cc
         |  FROM (SELECT j, cid, list(m ORDER BY i) AS cent FROM m$n GROUP BY j, cid))"""
        .stripMargin
    s"""WITH sub0 AS (SELECT vec_id AS id, unnest(range(0, 8)) AS j, embedding FROM embeddings),
       |subv AS (SELECT id, CAST(j AS INT) AS j,
       |    list_slice(embedding, j * 8 + 1, j * 8 + 8) AS v FROM sub0),
       |s2 AS (SELECT id, j, v, ${sqlDotFold("v", "v")} AS ss FROM subv),
       |inic AS (SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS cid
       |  FROM (SELECT DISTINCT id FROM s2 ORDER BY id LIMIT 16)),
       |c0 AS (SELECT j, cid, v AS cent, ss AS cc FROM s2 JOIN inic USING (id)),
       |${round("c0", 1)},
       |${round("c1", 2)},
       |enc0 AS (SELECT s.id AS vec_id, s.j AS j, c.cid AS c_id,
       |    (s.ss - 2.0 * ${sqlDotFold("s.v", "c.cent")}) + c.cc AS d2
       |  FROM s2 s JOIN c2 c ON s.j = c.j),
       |encr AS (SELECT vec_id, j, c_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2 ASC, c_id ASC) AS rk
       |  FROM enc0),
       |enc AS (SELECT vec_id, j, c_id AS code FROM encr WHERE rk = 1),
       |qd AS (SELECT s.id AS q_id, s.j AS j, c.cid AS code,
       |    (s.ss - 2.0 * ${sqlDotFold("s.v", "c.cent")}) + c.cc AS qd2
       |  FROM s2 s JOIN c2 c ON s.j = c.j
       |  WHERE s.id >= 16 AND s.id < 24),
       |adc0 AS (SELECT q.q_id AS q_id, e.vec_id AS vec_id,
       |    list(q.qd2 ORDER BY e.j) AS ds
       |  FROM enc e JOIN qd q ON e.j = q.j AND e.code = q.code
       |  GROUP BY q.q_id, e.vec_id),
       |adc AS (SELECT q_id, vec_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ds), (acc, x) -> acc + x)
       |      AS approx_d2
       |  FROM adc0),
       |r AS (SELECT q_id, vec_id, approx_d2,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY approx_d2 ASC, vec_id ASC) AS rk
       |  FROM adc)
       |SELECT q_id, rk, vec_id, approx_d2 FROM r WHERE rk <= 10
       |ORDER BY q_id, rk""".stripMargin
  }

  // ---------------------------------------------------------------- q88

  /** Deterministic sequence packing: whole documents grouped into
    * fixed-token context bins (ctx = 256) by a running token count over
    * a hash-shuffled order — the document-contiguous packing step that
    * turns a curated corpus into training sequences (q84 chunks WITHIN
    * documents; this packs ACROSS them). A document whose span crosses
    * a bin boundary overflows its bin (fill > 1) and is truncated at
    * training time — the standard contiguous-packing tradeoff.
    *
    * Scale shape: packing is per (lang, shard) with shard = doc-hash
    * bucket, so the running-sum window never sees more than one shard's
    * rows — production sizes nShards ∝ corpus / target-partition-size;
    * the per-shard cost of independent packing is at most one partial
    * tail bin per shard. */
  private def q88(s: SparkSession, d: String): DataFrame = {
    val ctx = 256
    val nShards = 4
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast(LongType).as("n_tok"))
      .withColumn("shard",
        (strHash(concat(lit("pack:"), col("doc_id").cast(StringType))) % nShards)
          .cast(IntegerType))
      .withColumn("h",
        strHash(concat(lit("order:"), col("doc_id").cast(StringType))))
    val w = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("h").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("cum", sum(col("n_tok")).over(w))
      // floor, not a bigint cast: DuckDB's double→int cast ROUNDS where
      // Spark's truncates — FLOOR is the portable spelling
      .withColumn("bin", floor((col("cum") - col("n_tok")) / lit(ctx.toDouble)))
      .groupBy(col("lang"), col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("fill", col("n_tokens").cast(DoubleType) / lit(ctx.toDouble))
      .orderBy(col("lang"), col("shard"), col("bin"))
  }

  private val q88Sql = {
    val shardHash = sqlStrHash("'pack:' || CAST(doc_id AS VARCHAR)")
    val orderHash = sqlStrHash("'order:' || CAST(doc_id AS VARCHAR)")
    s"""WITH d AS (SELECT doc_id, lang,
       |    CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tok,
       |    CAST($shardHash % 4 AS INT) AS shard,
       |    $orderHash AS h
       |  FROM documents),
       |c AS (SELECT lang, shard, n_tok,
       |    SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY h ASC, doc_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM d),
       |b AS (SELECT lang, shard, n_tok,
       |    CAST(FLOOR((cum - n_tok) / 256.0) AS BIGINT) AS bin FROM c)
       |SELECT lang, shard, bin, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_tok) AS DOUBLE) / 256.0 AS fill
       |FROM b GROUP BY lang, shard, bin
       |ORDER BY lang, shard, bin""".stripMargin
  }

  // ---------------------------------------------------------------- q89

  /** The INCREMENTAL curation pipeline under the driver's oracle gate:
    * run yesterday's full pipeline over 75% of the corpus (doc_id % 4
    * ≠ 0), build the candidate signature index, then process the
    * remaining 25% as today's delta with
    * `Curation.curateIncremental` — scoring only new docs, pairing them
    * against the index, rebuilding only touched components.
    *
    * The oracle is q79's full-corpus SQL VERBATIM: the incremental path
    * is proven row-equal to the full rerun (IncrementalCurationSpec),
    * so DuckDB independently re-derives the same decision table from
    * scratch — the strongest cross-engine check the delta path can get. */
  private def q89(s: SparkSession, d: String): DataFrame = {
    val all = Tables.documents(s, d)
    val a = all.filter(col("doc_id") % 4 =!= 0)
    val b = all.filter(col("doc_id") % 4 === 0)
    val bench = all.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    val cfg = graft.pipelines.Curation.Config(minQuality = 2.95)
    val cols = graft.pipelines.Curation.DecisionCols
    // curateWithSignatures hands back the candidate signature sets the
    // decision run already computed, so the persisted index never
    // re-tokenizes the prior corpus (round 14, VERDICT #3 — the old
    // shape's a⋈candidates probe was a third full tokenize pass).
    // Set identity: the former probe selected exactly the quality+contam
    // passing docs of `a`, which is what candSets holds.
    val (prevRaw, candSets) =
      graft.pipelines.Curation.curateWithSignatures(a, bench, cfg)
    val prev = prevRaw.select(cols.head, cols.tail: _*).cache()
    val prevIndex = graft.streaming.StreamOps
      .signatureIndexFromSets(candSets).cache()
    graft.pipelines.Curation.curateIncremental(prev, prevIndex, b, bench, cfg)
      .orderBy(col("doc_id"))
  }

  val queries: Seq[GQuery] = Seq(
    GQuery("q83_repetition_stats", q83, Some(q83Sql), Seq("A16", "A17", "F11")),
    GQuery("q84_token_chunks", q84, Some(q84Sql), Seq("F11", "A17")),
    GQuery("q85_pii_scrub", q85, Some(q85Sql), Seq("F1", "F11", "C12")),
    GQuery("q86_domain_mixture", q86, Some(q86Sql), Seq("A17", "J6")),
    GQuery("q87_pq_adc_ann", q87, Some(q87Sql), Seq("A16", "O1", "O4")),
    GQuery("q88_sequence_packing", q88, Some(q88Sql), Seq("W5", "A17", "F11")),
    GQuery("q89_incremental_curation", q89, Some(CurationQ.q79Sql),
      Seq("A16", "W2", "U3", "F11")),
    GQuery("q90_pq_trained_ann", q90, Some(q90Sql), Seq("A16", "O1", "O4")),
    GQuery("q91_chunk_boilerplate", q91, Some(q91Sql), Seq("A16", "A17", "F11")))
}
