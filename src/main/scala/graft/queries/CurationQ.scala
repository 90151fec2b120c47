package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.TextFunctions._

/** Training-data curation operators: corpus-level term statistics,
  * benchmark decontamination, deterministic train/val/test splitting,
  * ANN recall measurement, quality-aware dedup decisions, and
  * language-balanced sampling. These extend the reference's dedup/
  * filename-hygiene surface (`LTA/lta-retrieve.py:422-468`) to the
  * operations a 100 TB training-data pipeline runs daily.
  *
  * Scale discipline shared by all six: per-document work is map-side
  * Column algebra; the only shuffles are keyed on analysis keys that
  * grow with the corpus (doc_id, term) — never on low-cardinality keys;
  * small derived dimensions (vocabulary document frequencies, benchmark
  * shingle sets, probe vectors) are broadcast.
  */
object CurationQ {

  // ---------------------------------------------------------------- q69

  /** TF-IDF top terms per document. idf is kept in exact rational form
    * tf·N/df — integer products with ONE final IEEE division, so the
    * score is bitwise portable (no ln()). The document-frequency table
    * is a derived dimension orders of magnitude smaller than the corpus
    * (vocabulary-sized): broadcast. */
  private def q69(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // Cached: the document-frequency branch reads tf AGAIN — without the
    // cache Catalyst plans two full tokenize+aggregate chains over the
    // corpus (no exchange reuse across the aggregation), doubling the
    // most expensive scan. tf is (id, term, count) — far smaller than
    // re-reading and re-exploding the raw text.
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .cache()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast(DoubleType) / col("df").cast(DoubleType))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  private val q69Sql =
    s"""WITH tk AS (SELECT doc_id, unnest(${sqlTokens("text")}) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY doc_id, term),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |scored AS (SELECT doc_id, tf.term AS term, tf, df,
       |    CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score
       |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
       |ranked AS (SELECT doc_id, term, tf, df, score,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
       |  FROM scored)
       |SELECT doc_id, rk, term, tf, df, score FROM ranked WHERE rk <= 3
       |ORDER BY doc_id, rk""".stripMargin

  // ---------------------------------------------------------------- q70

  /** Benchmark decontamination: flag corpus documents sharing word-3-gram
    * shingles with a benchmark set (docs with doc_id % 97 = 0 stand in
    * for the eval suite). The benchmark shingle set is collapsed to ONE
    * sorted array broadcast to every task, so the corpus side is pure
    * map work — zero shuffle on the fact table, the right shape when the
    * benchmark is millions of shingles and the corpus is 100 TB. Overlap
    * is counted with the `sorted_intersect_count` codegen kernel. */
  private def q70(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), wordShingles3(col("tk")).as("sh"))
    val benchArr = sh.filter(col("doc_id") % 97 === 0)
      .select(explode(col("sh")).as("h")).distinct()
      .agg(array_sort(collect_set(col("h"))).as("bench_sh"))
    sh.filter(col("doc_id") % 97 =!= 0)
      .crossJoin(broadcast(benchArr))
      .withColumn("n_sh", size(col("sh")).cast(LongType))
      .withColumn("n_overlap",
        call_function("sorted_intersect_count", col("sh"), col("bench_sh")).cast(LongType))
      .filter(col("n_overlap") > 0)
      .withColumn("contam_ratio",
        col("n_overlap").cast(DoubleType) / col("n_sh").cast(DoubleType))
      .select(col("doc_id"), col("n_sh"), col("n_overlap"), col("contam_ratio"))
      .orderBy(col("doc_id"))
  }

  private[queries] val q70Sql = {
    val gram = "concat_ws(' ', tk[g], tk[g+1], tk[g+2])"
    s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
       |sh AS (SELECT doc_id,
       |    CASE WHEN len(tk) >= 3 THEN list_sort(list_distinct(list_transform(
       |      range(1, len(tk) - 1), g -> ${sqlStrHash(gram)})))
       |    ELSE CAST([] AS BIGINT[]) END AS sh
       |  FROM tk),
       |bench AS (SELECT DISTINCT unnest(sh) AS h FROM sh WHERE doc_id % 97 = 0),
       |bench_arr AS (SELECT list(h ORDER BY h) AS ba FROM bench),
       |scored AS (SELECT doc_id,
       |    CAST(len(sh) AS BIGINT) AS n_sh,
       |    CAST(len(list_intersect(sh, ba)) AS BIGINT) AS n_overlap
       |  FROM sh CROSS JOIN bench_arr WHERE doc_id % 97 <> 0)
       |SELECT doc_id, n_sh, n_overlap,
       |  CAST(n_overlap AS DOUBLE) / CAST(n_sh AS DOUBLE) AS contam_ratio
       |FROM scored WHERE n_overlap > 0
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q71

  /** Deterministic stratified train/val/test split: the split is a pure
    * function of the document id (poly-hash mod 10 → 80/10/10), so the
    * assignment is reproducible on any engine and any run — the property
    * a training pipeline needs for auditable splits. Per (lang, split)
    * counts + within-language shares; the share divides two exact
    * integers, so it is bitwise portable. */
  private def q71(s: SparkSession, d: String): DataFrame = {
    val h = strHash(concat(lit("split:"), col("doc_id").cast(StringType))) % 10
    val split = when(h < 8, "train").when(h === 8, "val").otherwise("test")
    val agg = Tables.documents(s, d)
      .withColumn("split", split)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    // lang totals: window over the ≤ (n_langs × 3)-row aggregate
    val w = Window.partitionBy(col("lang"))
    agg.withColumn("lang_share",
        col("n_docs").cast(DoubleType) / sum(col("n_docs")).over(w).cast(DoubleType))
      .select(col("lang"), col("split"), col("n_docs"), col("sum_chars"), col("lang_share"))
      .orderBy(col("lang"), col("split"))
  }

  private val q71Sql = {
    val h = sqlStrHash("concat('split:', CAST(doc_id AS VARCHAR))")
    s"""WITH tagged AS (SELECT lang, n_chars,
       |    CASE WHEN ($h) % 10 < 8 THEN 'train'
       |         WHEN ($h) % 10 = 8 THEN 'val' ELSE 'test' END AS split
       |  FROM documents),
       |agg AS (SELECT lang, split, COUNT(*) AS n_docs,
       |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |  FROM tagged GROUP BY lang, split)
       |SELECT lang, split, n_docs, sum_chars,
       |  CAST(n_docs AS DOUBLE) /
       |    CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE) AS lang_share
       |FROM agg ORDER BY lang, split""".stripMargin
  }

  // ---------------------------------------------------------------- q72

  /** ANN quality harness: recall@10 of the IVF-bucketed search (q55's
    * plan) against the exact brute-force top-10 (q34's plan), per probe.
    * Ground truth is inherently a full scan — the harness runs it over
    * the probe SAMPLE (broadcast), which is how recall is measured on
    * real corpora; the production path stays the IVF plan. */
  private def q72(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .withColumn("norm", sqrt(graft.queries.SimilarityQ.dotFold(col("embedding"), col("embedding"))))
    val cent = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"), col("norm").as("c_norm"))
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("cos_c").desc, col("cid").asc)
    val assign = emb.crossJoin(broadcast(cent))
      .withColumn("cos_c",
        graft.queries.SimilarityQ.dotFold(col("embedding"), col("c_emb")) / (col("norm") * col("c_norm")))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"), col("embedding"), col("norm"))
    val probes = assign.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("cid").as("q_cid"),
        col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
    val ivf = assign.join(broadcast(probes),
        col("cid") === col("q_cid") && col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        graft.queries.SimilarityQ.dotFold(col("embedding"), col("q_emb")) / (col("norm") * col("q_norm")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("vec_id"))
    val exact = emb.crossJoin(broadcast(probes.select(col("q_id"), col("q_emb"), col("q_norm"))))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        graft.queries.SimilarityQ.dotFold(col("embedding"), col("q_emb")) / (col("norm") * col("q_norm")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("vec_id"))
    exact.join(ivf.withColumn("hit", lit(1L)), Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall", col("n_hit").cast(DoubleType) / col("n_exact").cast(DoubleType))
      .orderBy(col("q_id"))
  }

  private val q72Sql = {
    import SimilarityQ.sqlDotFold
    s"""WITH emb AS (SELECT vec_id, embedding,
       |    sqrt(${sqlDotFold("embedding", "embedding")}) AS norm FROM embeddings),
       |cent AS (SELECT vec_id AS cid, embedding AS c_emb, norm AS c_norm
       |  FROM emb WHERE vec_id < 16),
       |cand AS (SELECT e.vec_id, e.embedding, e.norm, c.cid,
       |    ${sqlDotFold("e.embedding", "c.c_emb")} / (e.norm * c.c_norm) AS cos_c
       |  FROM emb e CROSS JOIN cent c),
       |asg AS (SELECT vec_id, embedding, norm, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cid ASC) AS rn
       |  FROM cand),
       |a AS (SELECT vec_id, cid, embedding, norm FROM asg WHERE rn = 1),
       |probes AS (SELECT vec_id AS q_id, cid AS q_cid, embedding AS q_emb, norm AS q_norm
       |  FROM a WHERE vec_id < 8),
       |ivf0 AS (SELECT q_id, a.vec_id AS vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
       |      ${sqlDotFold("a.embedding", "q_emb")} / (a.norm * q_norm) DESC, a.vec_id ASC) AS rk
       |  FROM a JOIN probes ON a.cid = q_cid AND a.vec_id <> q_id),
       |ivf AS (SELECT q_id, vec_id FROM ivf0 WHERE rk <= 10),
       |ex0 AS (SELECT q_id, e.vec_id AS vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
       |      ${sqlDotFold("e.embedding", "q_emb")} / (e.norm * q_norm) DESC, e.vec_id ASC) AS rk
       |  FROM emb e CROSS JOIN probes WHERE e.vec_id <> q_id),
       |exact AS (SELECT q_id, vec_id FROM ex0 WHERE rk <= 10)
       |SELECT x.q_id AS q_id, COUNT(*) AS n_exact,
       |  CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST(CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM exact x LEFT JOIN ivf i ON x.q_id = i.q_id AND x.vec_id = i.vec_id
       |GROUP BY x.q_id ORDER BY q_id""".stripMargin
  }

  // ---------------------------------------------------------------- q73

  /** Quality-aware dedup decisions: near-dup components (the q66 pair
    * graph, `DedupGroups.canonicalize`) keep their HIGHEST-QUALITY
    * member (q28's quality score; ties → lowest doc id) instead of the
    * lowest id — what a curation pipeline actually ships. Unpaired
    * documents keep themselves. */
  private def q73(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val starEdges = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").as("a"), (col("doc_id") - col("doc_id") % 5).as("b"))
    val chainEdges = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 25 =!= 0)
      .select(col("doc_id").as("a"), (col("doc_id") - 5).as("b"))
    val (nTokens, sumLen, nStop, nPunct) = qualityCounters(col("toks"), col("text"))
    val quality = docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("quality", qualityScore(nTokens, sumLen, nStop, nPunct))
      .select(col("doc_id"), col("quality"))
    graft.operators.DedupGroups
      .keepBest(quality, "doc_id", "quality",
        starEdges.unionByName(chainEdges), "a", "b")
      .select(col("doc_id"), col("component"), col("quality"), col("keep"))
      .orderBy(col("doc_id"))
  }

  private val q73Sql = {
    val qual =
      """CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.25
        |    + (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 2.0
        |    - CAST(n_punct AS DOUBLE) * 0.1""".stripMargin
    s"""WITH RECURSIVE
       |e AS (
       |  SELECT doc_id AS a, doc_id - doc_id % 5 AS b FROM documents WHERE doc_id % 5 <> 0
       |  UNION ALL
       |  SELECT doc_id AS a, doc_id - 5 AS b FROM documents WHERE doc_id % 5 = 0 AND doc_id % 25 <> 0),
       |und AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
       |verts AS (SELECT DISTINCT src AS id FROM und),
       |reach(id, lab) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT u.src, r.lab FROM und u JOIN reach r ON u.dst = r.id),
       |canon AS (SELECT id AS doc_id, MIN(lab) AS canonical_id FROM reach GROUP BY id),
       |t AS (SELECT doc_id, text, ${sqlTokens("text")} AS toks FROM documents),
       |m AS (SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, x -> CAST(length(x) AS BIGINT))), (acc, x) -> acc + x) AS sum_len,
       |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS BIGINT) AS n_stop,
       |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
       |FROM t),
       |quality AS (SELECT doc_id, $qual AS quality FROM m),
       |joined AS (SELECT q.doc_id AS doc_id,
       |    COALESCE(c.canonical_id, q.doc_id) AS component, q.quality AS quality
       |  FROM quality q LEFT JOIN canon c ON q.doc_id = c.doc_id)
       |SELECT doc_id, component, quality,
       |  ROW_NUMBER() OVER (PARTITION BY component ORDER BY quality DESC, doc_id ASC) = 1 AS keep
       |FROM joined ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q74

  /** Language-balanced deterministic sample: top-20 documents per
    * language ordered by a reproducible poly-hash — a seeded shuffle any
    * engine replays identically. The window partitions on the
    * low-cardinality language key, which is safe ONLY because Spark's
    * InferWindowGroupLimit inserts a PARTIAL WindowGroupLimit below the
    * exchange: every input partition pre-prunes to its local top-20 per
    * language, so the shuffle moves ≤ 20·partitions·languages rows, not
    * the corpus (asserted by PlanContractSpec). */
  private def q74(s: SparkSession, d: String): DataFrame = {
    val hashed = Tables.documents(s, d)
      .withColumn("h", strHash(concat(lit("sample:"), col("doc_id").cast(StringType))))
    val global = Window.partitionBy(col("lang"))
      .orderBy(col("h").asc, col("doc_id").asc)
    hashed
      .withColumn("rk", row_number().over(global))
      .filter(col("rk") <= 20)
      .select(col("lang"), col("rk"), col("doc_id"), col("h"))
      .orderBy(col("lang"), col("rk"))
  }

  private val q74Sql = {
    val h = sqlStrHash("concat('sample:', CAST(doc_id AS VARCHAR))")
    s"""WITH hashed AS (SELECT lang, doc_id, $h AS h FROM documents),
       |ranked AS (SELECT lang, doc_id, h,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h ASC, doc_id ASC) AS rk
       |  FROM hashed)
       |SELECT lang, rk, doc_id, h FROM ranked WHERE rk <= 20
       |ORDER BY lang, rk""".stripMargin
  }

  // ---------------------------------------------------------------- q76

  /** Feature-hashing embedder: each document becomes a dense 16-bucket
    * hashed token-count vector (the classic hashing trick), then cosine
    * top-5 against 8 probe documents — text entering the SAME similarity
    * machinery the float embeddings use (`float_dot` kernel). The
    * vectorization is pure map work: transform over a constant index
    * range filtering the per-doc hash array, no explode, no shuffle;
    * counts are < 2²⁴ so the float32 cast is exact and the double
    * accumulation matches the oracle bitwise. */
  private def q76(s: SparkSession, d: String): DataFrame = {
    val dim = 16
    // Vectorize a (doc_id, text) relation: dense 16-bucket hashed
    // token-count vector + L2 norm. The norm>0 corpus filter is replaced
    // by an EARLY size(tokens)>0 filter — equivalent (every token lands in
    // some bucket, so norm = 0 iff zero tokens) and it costs one tokenize
    // in the predicate instead of re-deriving the whole vector chain when
    // Catalyst substitutes a norm>0 predicate through the projection.
    def hashEmbed(in: DataFrame): DataFrame = in
      .filter(size(tokens(col("text"))) > 0)
      .withColumn("hs", transform(tokens(col("text")), strHash(_)))
      // The size() guard (always true: text is non-null) is a SECOND
      // top-level reference to `hs`. With only the lambda reference,
      // CollapseProject inlines the whole tokenize+hash chain into the
      // bucket-count lambda, where it is re-evaluated PER BUCKET INDEX —
      // 16× the tokenize cost (measured 3.5s vs 0.9s at sf0.1). A
      // multiply-referenced non-cheap producer is kept materialized.
      .withColumn("vec",
        when(size(col("hs")) >= 0,
          transform(sequence(lit(0), lit(dim - 1)),
            i => size(filter(col("hs"), h => h % dim === i))))
          .otherwise(lit(null))
          .cast(ArrayType(FloatType)))
      .withColumn("norm",
        sqrt(graft.queries.SimilarityQ.dotFold(col("vec"), col("vec"))))
      .select(col("doc_id"), col("vec"), col("norm"))
    // No corpus-sized cache: the corpus side streams through ONCE; the
    // probe side re-derives its 8 vectors from a doc_id<8 scan whose
    // filter pushes into the parquet read. At 100 TB a cache here IS the
    // corpus — a persistent index build belongs in KMeans.assign +
    // partitioned write, not in the query.
    val docs = hashEmbed(Tables.documents(s, d))
    val probes = hashEmbed(Tables.documents(s, d).filter(col("doc_id") < 8))
      .select(col("doc_id").as("q_doc"), col("vec").as("q_vec"), col("norm").as("q_norm"))
    val w = Window.partitionBy(col("q_doc")).orderBy(col("cos").desc, col("doc_id").asc)
    docs.crossJoin(broadcast(probes))
      .filter(col("doc_id") =!= col("q_doc"))
      .withColumn("cos",
        graft.queries.SimilarityQ.dotFold(col("vec"), col("q_vec")) /
          (col("norm") * col("q_norm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_doc"), col("rk"), col("doc_id"), col("cos"))
      .orderBy(col("q_doc"), col("rk"))
  }

  private val q76Sql = {
    import SimilarityQ.sqlDotFold
    val vec = "list_transform(range(0, 16), i -> " +
      "CAST(len(list_filter(hs, h -> h % 16 = i)) AS DOUBLE))"
    s"""WITH hs AS (SELECT doc_id,
       |    list_transform(${sqlTokens("text")}, t -> ${sqlStrHash("t")}) AS hs
       |  FROM documents),
       |vecs AS (SELECT doc_id, $vec AS vec FROM hs),
       |normed AS (SELECT doc_id, vec,
       |    sqrt(${sqlDotFold("vec", "vec")}) AS norm
       |  FROM vecs),
       |docs AS (SELECT * FROM normed WHERE norm > 0.0),
       |probes AS (SELECT doc_id AS q_doc, vec AS q_vec, norm AS q_norm
       |  FROM docs WHERE doc_id < 8),
       |scored AS (SELECT q_doc, d.doc_id AS doc_id,
       |    ${sqlDotFold("d.vec", "q_vec")} / (d.norm * q_norm) AS cos
       |  FROM docs d CROSS JOIN probes WHERE d.doc_id <> q_doc),
       |ranked AS (SELECT q_doc, doc_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_doc ORDER BY cos DESC, doc_id ASC) AS rk
       |  FROM scored)
       |SELECT q_doc, rk, doc_id, cos FROM ranked WHERE rk <= 5
       |ORDER BY q_doc, rk""".stripMargin
  }

  // ---------------------------------------------------------------- q79

  /** The END-TO-END curation pipeline (`pipelines.Curation.curate`) as an
    * oracle-paired query: quality gate + benchmark decontamination + LSH
    * near-dup keep-best + deterministic split, one DAG, verified
    * cross-engine. The oracle unrolls every stage in SQL — the quality
    * counters of q73, the shingle-overlap contam of q70, q32's banded
    * MinHash candidate generation, a recursive-CTE connected-components
    * pass for the dedup graph, and the split hash of q71. Benchmark =
    * every 50th document (verbatim corpus members, so they must fail
    * contamination); quality bar 2.95 ≈ the corpus lower quartile so both
    * quality verdicts occur (same config as the golden pipeline test). */
  private def q79(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    graft.pipelines.Curation.curate(docs, bench,
      graft.pipelines.Curation.Config(minQuality = 2.95))
      .select(col("doc_id"), col("quality"), col("contam_ratio"),
        col("quality_pass"), col("contam_pass"), col("component"),
        col("dedup_keep"), col("keep"), col("split"))
      .orderBy(col("doc_id"))
  }

  // shared with q89: the incremental pipeline is PROVEN row-equal to the
  // full rerun (IncrementalCurationSpec), so both paths verify against
  // the same full-corpus oracle. The CORPUS is parameterized (q136 runs
  // the same oracle over corpus-minus-victims) while the BENCHMARK stays
  // the full table's every-50th docs — forgetting a corpus doc never
  // changes the eval suite the pipeline was configured against.
  private[queries] val q79Sql: String = q79SqlWhere("TRUE")

  private[queries] def q79SqlWhere(corpusPred: String): String = {
    val qual =
      """CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.25
        |    + (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 2.0
        |    - CAST(n_punct AS DOUBLE) * 0.1""".stripMargin
    val gram = "concat_ws(' ', tk[g], tk[g+1], tk[g+2])"
    val a = graft.functions.TextFunctions.MinhashA.mkString("[", ", ", "]")
    val b = graft.functions.TextFunctions.MinhashB.mkString("[", ", ", "]")
    val p = graft.functions.TextFunctions.HashMod
    val splitHash = sqlStrHash("concat('split:', CAST(doc_id AS VARCHAR))")
    s"""WITH RECURSIVE
       |tk_all AS (SELECT doc_id, text, ${sqlTokens("text")} AS tk FROM documents),
       |tk AS (SELECT * FROM tk_all WHERE $corpusPred),
       |m AS (SELECT doc_id,
       |  CAST(len(tk) AS BIGINT) AS n_tokens,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(tk, x -> CAST(length(x) AS BIGINT))), (acc, x) -> acc + x) AS sum_len,
       |  CAST(len(list_filter(tk, x -> list_contains(['the','a','of','and','is'], x))) AS BIGINT) AS n_stop,
       |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
       |FROM tk),
       |quality AS (SELECT doc_id, $qual AS quality FROM m),
       |sh AS (SELECT doc_id,
       |    CASE WHEN len(tk) >= 3 THEN list_sort(list_distinct(list_transform(
       |      range(1, len(tk) - 1), g -> ${sqlStrHash(gram)})))
       |    ELSE CAST([] AS BIGINT[]) END AS sh
       |  FROM tk),
       |sh_bench AS (SELECT doc_id,
       |    CASE WHEN len(tk) >= 3 THEN list_sort(list_distinct(list_transform(
       |      range(1, len(tk) - 1), g -> ${sqlStrHash(gram)})))
       |    ELSE CAST([] AS BIGINT[]) END AS sh
       |  FROM tk_all WHERE doc_id % 50 = 0),
       |bench AS (SELECT DISTINCT unnest(sh) AS h FROM sh_bench),
       |bench_arr AS (SELECT list(h ORDER BY h) AS ba FROM bench),
       |contam AS (SELECT doc_id,
       |    CASE WHEN len(sh) > 0
       |      THEN CAST(len(list_intersect(sh, ba)) AS DOUBLE) / CAST(len(sh) AS DOUBLE)
       |      ELSE 0.0 END AS contam_ratio
       |  FROM sh CROSS JOIN bench_arr),
       |flags AS (SELECT q.doc_id AS doc_id, q.quality AS quality, c.contam_ratio AS contam_ratio,
       |    q.quality >= 2.95 AS quality_pass, c.contam_ratio <= 0.5 AS contam_pass
       |  FROM quality q JOIN contam c USING (doc_id)),
       |cand_ids AS (SELECT doc_id FROM flags WHERE quality_pass AND contam_pass),
       |ctoks AS (SELECT doc_id, unnest(list_distinct(tk)) AS tok FROM tk
       |  WHERE doc_id IN (SELECT doc_id FROM cand_ids)),
       |hashed AS (SELECT doc_id, ${sqlStrHash("tok")} AS th FROM ctoks),
       |ks AS (SELECT unnest(range(0, ${graft.functions.TextFunctions.MinhashWideK})) AS k),
       |sig AS (SELECT doc_id, CAST(k AS INT) AS k,
       |    MIN(($a[CAST(k AS INT) + 1] * th + $b[CAST(k AS INT) + 1]) % $p) AS minhash
       |  FROM hashed CROSS JOIN ks GROUP BY doc_id, k),
       |bands AS (SELECT doc_id, k // ${graft.functions.TextFunctions.MinhashBandRows} AS band,
       |    ${SimilarityQ.sqlBandFold(graft.functions.TextFunctions.MinhashBandRows)} AS bucket
       |  FROM sig GROUP BY doc_id, k // ${graft.functions.TextFunctions.MinhashBandRows}),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |sets AS (SELECT doc_id, list_distinct(list_transform(
       |    list_distinct(tk), t -> ${sqlStrHash("t")})) AS toks
       |  FROM tk WHERE doc_id IN (SELECT doc_id FROM cand_ids)),
       |pairs AS (SELECT doc_a, doc_b
       |  FROM cand JOIN sets sa ON cand.doc_a = sa.doc_id
       |            JOIN sets sb ON cand.doc_b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE)
       |      / CAST(len(sa.toks) + len(sb.toks) - len(list_intersect(sa.toks, sb.toks)) AS DOUBLE) >= 0.5),
       |und AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
       |verts AS (SELECT DISTINCT src AS id FROM und),
       |reach(id, lab) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT u.src, r.lab FROM und u JOIN reach r ON u.dst = r.id),
       |canon AS (SELECT id AS doc_id, MIN(lab) AS canonical_id FROM reach GROUP BY id),
       |kept AS (SELECT f.doc_id AS doc_id, f.quality AS quality, f.contam_ratio AS contam_ratio,
       |    f.quality_pass AS quality_pass, f.contam_pass AS contam_pass,
       |    COALESCE(c.canonical_id, f.doc_id) AS component,
       |    ROW_NUMBER() OVER (PARTITION BY COALESCE(c.canonical_id, f.doc_id)
       |      ORDER BY f.quality DESC, f.doc_id ASC) = 1 AS dedup_keep
       |  FROM flags f LEFT JOIN canon c USING (doc_id)
       |  WHERE f.quality_pass AND f.contam_pass),
       |failed AS (SELECT doc_id, quality, contam_ratio, quality_pass, contam_pass,
       |    doc_id AS component, FALSE AS dedup_keep
       |  FROM flags WHERE NOT (quality_pass AND contam_pass)),
       |unioned AS (SELECT * FROM kept UNION ALL SELECT * FROM failed),
       |final AS (SELECT *,
       |    quality_pass AND contam_pass AND dedup_keep AS keep,
       |    $splitHash % 10 AS hb
       |  FROM unioned)
       |SELECT doc_id, quality, contam_ratio, quality_pass, contam_pass, component, dedup_keep, keep,
       |  CASE WHEN NOT keep THEN NULL
       |       WHEN hb < 8 THEN 'train' WHEN hb = 8 THEN 'val' ELSE 'test' END AS split
       |FROM final ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q136

  /** TAKEDOWN curation (`pipelines.Curation.forget`) as an oracle-paired
    * query: curate the corpus, then forget a victim class — victims'
    * rows drop and ONLY their components' surviving members are
    * re-decided (survivor re-election, component splits), everything
    * else untouched. The oracle is q79's full-pipeline SQL over the
    * corpus WITH the victims filtered out (the benchmark stays the full
    * table's every-50th docs — forgetting a corpus doc never changes
    * the configured eval suite), so the incremental inverse is verified
    * cross-engine against the from-scratch rerun it claims to equal —
    * the q89 convention, deletion edition. Victim class %31 is chosen
    * to include KEPT members of multi-doc components (probed: three),
    * so the re-election path provably executes. */
  private def q136(s: SparkSession, d: String): DataFrame = {
    import graft.pipelines.Curation
    val docs = Tables.documents(s, d)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    val cfg = Curation.Config(minQuality = 2.95)
    // Materialized ONCE before forget (round 13, guide §2.4/§5): forget
    // references prev THREE times (victim components, surviving members,
    // untouched anti-join) — lazy, each reference re-ran the curate
    // assembly (keep-best window + union + finalize over the persisted
    // score cache): measured 39.4 s → 28.4 s at sf0.1 for the full
    // curate+forget shape. Nine narrow columns, no text — the same
    // snapRoot/DailyDriver convention; results identical (same oracle).
    val prev = Curation.curate(docs, bench, cfg)
      .select(Curation.DecisionCols.map(col): _*).localCheckpoint(true)
    val victims = docs.filter(col("doc_id") % 31 === 1).select("doc_id")
    Curation.forget(prev, victims, docs, cfg)
      .select(col("doc_id"), col("quality"), col("contam_ratio"),
        col("quality_pass"), col("contam_pass"), col("component"),
        col("dedup_keep"), col("keep"), col("split"))
      .orderBy(col("doc_id"))
  }

  private val q136Sql = q79SqlWhere("NOT (doc_id % 31 = 1)")

  // ---------------------------------------------------------------- q138

  /** Dedup-health profile — the component-SIZE distribution of the
    * curated corpus: for each near-dup component size, how many
    * components and how many documents sit there. The monitor that
    * catches dedup drift a keep-rate alone hides: a creeping MEGA
    * component (this corpus ships one — hundreds of members behind a
    * single survivor) means the LSH threshold or shingling has stopped
    * separating genuinely distinct documents, and the corpus is
    * silently collapsing. O(components) intermediate, O(distinct
    * sizes) output; the oracle wraps q79's full-pipeline SQL as a
    * subquery, so the profile is verified against the same cross-engine
    * component structure the curation rows are. */
  private def q138(s: SparkSession, d: String): DataFrame = {
    import graft.pipelines.Curation
    val docs = Tables.documents(s, d)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    Curation.curate(docs, bench, Curation.Config(minQuality = 2.95))
      .filter(col("quality_pass") && col("contam_pass"))
      .groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz"))
      .agg(count(lit(1)).as("n_components"),
        sum(col("sz")).as("n_docs"))
      .orderBy(col("sz"))
  }

  private val q138Sql =
    s"""SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_components,
       |  CAST(SUM(sz) AS BIGINT) AS n_docs
       |FROM (SELECT component, CAST(COUNT(*) AS BIGINT) AS sz
       |      FROM ($q79Sql) b
       |      WHERE quality_pass AND contam_pass GROUP BY component) c
       |GROUP BY sz ORDER BY sz""".stripMargin

  // ---------------------------------------------------------------- q139

  /** The sealed-snapshot root the q139/q140 RECURRING rows read:
    * curate → seal v=1 (decisions + content fingerprints) → takedown
    * (q136's victim class) → seal v=2, built ONCE per testdata
    * fingerprint via the q132 cache convention. The seal cost itself is
    * measured where recurring costs live (`DailyDriver.snapshot` in the
    * ScaleCheck aging run's snap column); these rows measure what a
    * corpus owner pays PER READ of sealed history — which is the whole
    * point of sealing: the export and the diff never re-run curation. */
  private def snapRoot(s: SparkSession, d: String): String =
    CurationQ7.cachedRoot(s, d, "snap") { tmp =>
      import graft.operators.Snapshots
      import graft.pipelines.Curation
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("doc_id") % 50 === 0)
        .select("doc_id", "text")
      val cfg = Curation.Config(minQuality = 2.95)
      // materialized once: feeds snapshot v=1 AND the forget re-decide
      val prev = Curation.curate(docs, bench, cfg).localCheckpoint(true)
      val fps = Snapshots.fingerprints(docs)
      Snapshots.create(s, tmp, prev.join(fps, Seq("doc_id")))
      val after = Curation.forget(prev,
        docs.filter(col("doc_id") % 31 === 1).select(col("doc_id")),
        docs, cfg)
      Snapshots.create(s, tmp, after.join(fps, Seq("doc_id")))
      // ... and v=1's training-shard export (q141's recurring read)
      Snapshots.exportShards(s, tmp, 1L, docs)
    }

  /** Sealed training-set EXPORT ([[graft.operators.Snapshots]]) as an
    * oracle row: read the SEALED v=1 back from storage and emit the
    * kept set (id, fingerprint, length, component, split) — a training
    * run's reproducibility record, served at its production cost (a
    * pure read of the sealed store, [[snapRoot]]'s cache convention).
    * The oracle re-derives the same rows declaratively (q79's pipeline
    * joined with the portable poly-hash over `text`), so the whole
    * seal → marker-commit → open storage path is gate-checked against
    * the from-scratch SQL. */
  private def q139(s: SparkSession, d: String): DataFrame =
    graft.operators.Snapshots.open(s, snapRoot(s, d), 1L)
      .filter(col("keep"))
      .select(col("doc_id"), col("fp"), col("len"), col("component"),
        col("split"))
      .orderBy(col("doc_id"))

  private val q139Sql =
    s"""SELECT f.doc_id AS doc_id, ${sqlStrHash("d.text")} AS fp,
       |  CAST(length(d.text) AS BIGINT) AS len,
       |  f.component AS component, f.split AS split
       |FROM ($q79Sql) f JOIN documents d ON f.doc_id = d.doc_id
       |WHERE f.keep ORDER BY f.doc_id""".stripMargin

  // ---------------------------------------------------------------- q140

  /** Cross-snapshot DIFF — what changed between two sealed training-set
    * versions, the audit a corpus owner runs before re-training: read
    * [[snapRoot]]'s sealed pre/post-takedown versions and emit
    * [[graft.operators.Snapshots.diff]]'s delta-sized change set —
    * victims come back `'removed'`, their components' re-decided
    * survivors `'changed'` with the before/after keep/split/component
    * pairs, and every untouched doc emits nothing. Served at the
    * production cost: one full-outer id join over two sealed narrow
    * tables, no curation rerun. The oracle full-outer-joins the two
    * declarative pipelines (q79 whole-corpus vs q79 minus victims)
    * with the same null-safe column compare, so the sealed-diff path
    * is verified against from-scratch SQL on both sides of history. */
  private def q140(s: SparkSession, d: String): DataFrame =
    // one-sided rows make keep/component NULLABLE; the gate's hasher
    // holds nullable ints/bools poorly, so the PAIRED form strings
    // them (the nullable-string path q79's split already exercises) —
    // the operator itself keeps native types
    graft.operators.Snapshots.diff(s, snapRoot(s, d), 1L, 2L,
      compare = Seq("keep", "split", "component"))
      .select(col("doc_id"), col("status"),
        col("keep_a").cast(StringType).as("keep_a"),
        col("keep_b").cast(StringType).as("keep_b"),
        col("split_a"), col("split_b"),
        col("component_a").cast(StringType).as("component_a"),
        col("component_b").cast(StringType).as("component_b"))
      .orderBy(col("doc_id"))

  private val q140Sql =
    s"""SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       |  CASE WHEN b.doc_id IS NULL THEN 'removed'
       |       WHEN a.doc_id IS NULL THEN 'added'
       |       ELSE 'changed' END AS status,
       |  CAST(a.keep AS VARCHAR) AS keep_a, CAST(b.keep AS VARCHAR) AS keep_b,
       |  a.split AS split_a, b.split AS split_b,
       |  CAST(a.component AS VARCHAR) AS component_a,
       |  CAST(b.component AS VARCHAR) AS component_b
       |FROM ($q79Sql) a
       |FULL JOIN (${q79SqlWhere("NOT (doc_id % 31 = 1)")}) b
       |  ON a.doc_id = b.doc_id
       |WHERE a.doc_id IS NULL OR b.doc_id IS NULL
       |   OR NOT (a.keep IS NOT DISTINCT FROM b.keep
       |       AND a.split IS NOT DISTINCT FROM b.split
       |       AND a.component IS NOT DISTINCT FROM b.component)
       |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q141

  /** Snapshot → TRAINING-SHARD export as an oracle row: read sealed
    * v=1's shard manifest back from storage ([[graft.operators
    * .Snapshots.openShards]] — the export itself ran once in
    * [[snapRoot]]'s cached build, its cost measured where one-time
    * costs live) and pin every chunk row BITWISE against the DuckDB
    * composition of the whole ladder: q79's kept set → q107's
    * serpentine token-balanced shard deal → q104's chunked
    * context-window bin packing. The deliverable a trainer mounts,
    * gate-checked end to end through the seal → export → marker →
    * open storage path. */
  private def q141(s: SparkSession, d: String): DataFrame =
    graft.operators.Snapshots.openShards(s, snapRoot(s, d), 1L)
      .select(col("doc_id"), col("lang"), col("split"),
        col("shard").cast(IntegerType).as("shard"), col("bin"),
        col("start"), col("chunk_len"), col("fp"))
      .orderBy(col("doc_id"), col("start"))

  private val q141Sql = {
    import graft.operators.ShardExport.{DefaultChunk, DefaultCtx, DefaultGroups, DefaultShards}
    val S = DefaultShards
    val grpHash = sqlStrHash("'shard:' || CAST(doc_id AS VARCHAR)")
    val ordHash = sqlStrHash("'order:' || CAST(doc_id AS VARCHAR)")
    s"""WITH kept AS (SELECT f.doc_id AS doc_id, d.lang AS lang,
       |    f.split AS split, ${sqlStrHash("d.text")} AS fp,
       |    ${sqlTokens("d.text")} AS tk
       |  FROM ($q79Sql) f JOIN documents d ON f.doc_id = d.doc_id
       |  WHERE f.keep),
       |base AS (SELECT doc_id, lang, split, fp, len(tk) AS n,
       |    $grpHash % $DefaultGroups AS grp
       |  FROM kept WHERE len(tk) > 0),
       |r AS (SELECT doc_id, lang, split, fp, n, grp,
       |    ROW_NUMBER() OVER (PARTITION BY lang, grp
       |      ORDER BY n DESC, doc_id ASC) AS rk
       |  FROM base),
       |a AS (SELECT doc_id, lang, split, fp, n,
       |    CAST(CASE WHEN CAST(FLOOR((rk - 1) / $S) AS BIGINT) % 2 = 0
       |      THEN (rk - 1) % $S ELSE $S - 1 - ((rk - 1) % $S) END AS INT)
       |      AS shard
       |  FROM r),
       |ch AS (SELECT doc_id, lang, split, fp, shard, n,
       |    CAST(unnest(range(0, n, $DefaultChunk)) AS BIGINT) AS start
       |  FROM a),
       |cl AS (SELECT doc_id, lang, split, fp, shard, start,
       |    CAST(LEAST($DefaultChunk, n - start) AS BIGINT) AS chunk_len,
       |    $ordHash AS h
       |  FROM ch),
       |c AS (SELECT doc_id, lang, split, fp, shard, start, chunk_len,
       |    SUM(chunk_len) OVER (PARTITION BY lang, shard
       |      ORDER BY h ASC, doc_id ASC, start ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM cl)
       |SELECT doc_id, lang, split, shard,
       |  CAST(FLOOR((cum - chunk_len) / $DefaultCtx.0) AS BIGINT) AS bin,
       |  start, chunk_len, fp
       |FROM c ORDER BY doc_id, start""".stripMargin
  }

  // ---------------------------------------------------------------- q142

  /** MIXTURE-WEIGHTED training-shard export — the full composition a
    * multilingual/multi-domain corpus owner actually ships: q79's kept
    * set → q102's temperature mixture (α = 1/2, the transcendental-free
    * exponent) turned into a per-document replication plan (q86's
    * integer epochs + deterministic fractional-hash extra copy, so each
    * source hits its re-weighted token share in expectation without a
    * random number generator) → [[graft.operators.ShardExport
    * .packWeighted]], where every (doc, copy) pair is an independent
    * pack unit with its own deal/order hashes — an up-weighted
    * low-resource document's repeats scatter across shards and bins
    * instead of clumping. The oracle unrolls the whole ladder in SQL,
    * pinning each chunk row bitwise.
    *
    * Scale shape: the mixture plan is a source-dimension relation
    * (broadcast); the expansion multiplies rows by the per-source boost
    * (bounded by the mixture's design: Σ q_share = 1), and the pack
    * windows stay (lang, grp)-keyed — no corpus-sized window. */
  private def q142(s: SparkSession, d: String): DataFrame = {
    import graft.operators.ShardExport
    val docs = Tables.documents(s, d)
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id", "text")
    // eagerly checkpointed: feeds the source-dim aggregate AND the
    // expansion join — without it Catalyst re-runs the curation DAG for
    // each. localCheckpoint (not cache) so the blocks are released by
    // the ContextCleaner after the query instead of pinned for the run.
    val kept = graft.pipelines.Curation.curate(docs, bench,
        graft.pipelines.Curation.Config(minQuality = 2.95))
      .filter(col("keep")).select(col("doc_id"), col("split"))
      .join(docs.select(col("doc_id"), col("source"), col("lang"),
        col("text")), Seq("doc_id"))
      .withColumn("fp", strHash(col("text")))
      .withColumn("n_tok", size(tokens(col("text"))).cast(LongType))
      .localCheckpoint(true)
    val bySrc = kept.groupBy(col("source")).agg(sum(col("n_tok")).as("tok_s"))
    val tot = bySrc.agg(sum(col("tok_s")).as("tok_tot"))
    val dim = bySrc.crossJoin(broadcast(tot))
      .withColumn("share",
        col("tok_s").cast(DoubleType) / col("tok_tot").cast(DoubleType))
      .withColumn("temp_w", sqrt(col("share")))
    // Σ√p in source order: sorted fold, bitwise-portable (q102's rule)
    val wSum = dim
      .agg(array_sort(collect_list(struct(col("source"), col("temp_w"))))
        .as("ws"))
      .select(aggregate(col("ws"), lit(0.0),
        (acc, x) => acc + x.getField("temp_w")).as("w_sum"))
    val plan = dim.crossJoin(broadcast(wSum))
      .withColumn("boost", (col("temp_w") / col("w_sum")) / col("share"))
      .withColumn("epochs", floor(col("boost")))
      .withColumn("frac_scaled",
        floor((col("boost") - floor(col("boost"))) * 1000000.0))
      .select(col("source"), col("epochs"), col("frac_scaled"))
    val planned = kept.join(broadcast(plan), Seq("source"))
      .withColumn("extra",
        (strHash(concat(lit("mix:"), col("doc_id").cast(StringType)))
          % 1000000L < col("frac_scaled")).cast(LongType))
      .withColumn("n_copies", col("epochs") + col("extra"))
    ShardExport.packWeighted(planned.select(col("doc_id"), col("lang"),
        col("split"), col("fp"), col("text"), col("n_copies")))
      .orderBy(col("doc_id"), col("copy"), col("start"))
  }

  private val q142Sql = {
    import graft.operators.ShardExport.{DefaultChunk, DefaultCtx, DefaultGroups, DefaultShards}
    val S = DefaultShards
    val ukey = """CAST(doc_id AS VARCHAR) || '#' || CAST("copy" AS VARCHAR)"""
    val grpHash = sqlStrHash(s"'shard:' || $ukey")
    val ordHash = sqlStrHash(s"'order:' || $ukey")
    val mixHash = sqlStrHash("'mix:' || CAST(k.doc_id AS VARCHAR)")
    s"""WITH kept AS (SELECT f.doc_id AS doc_id, d.source AS source,
       |    d.lang AS lang, f.split AS split, ${sqlStrHash("d.text")} AS fp,
       |    CAST(len(${sqlTokens("d.text")}) AS BIGINT) AS n
       |  FROM ($q79Sql) f JOIN documents d ON f.doc_id = d.doc_id
       |  WHERE f.keep),
       |by_src AS (SELECT source, CAST(SUM(n) AS BIGINT) AS tok_s
       |  FROM kept GROUP BY source),
       |tot AS (SELECT CAST(SUM(tok_s) AS BIGINT) AS tok_tot FROM by_src),
       |dim AS (SELECT source,
       |    CAST(tok_s AS DOUBLE) / CAST(tok_tot AS DOUBLE) AS share,
       |    sqrt(CAST(tok_s AS DOUBLE) / CAST(tok_tot AS DOUBLE)) AS temp_w
       |  FROM by_src CROSS JOIN tot),
       |ws AS (SELECT list_reduce(
       |    list_prepend(CAST(0.0 AS DOUBLE), list(temp_w ORDER BY source)),
       |    (acc, x) -> acc + x) AS w_sum FROM dim),
       |pl AS (SELECT source,
       |    CAST(FLOOR((temp_w / w_sum) / share) AS BIGINT) AS epochs,
       |    CAST(FLOOR(((temp_w / w_sum) / share
       |      - FLOOR((temp_w / w_sum) / share)) * 1000000.0) AS BIGINT)
       |      AS frac_scaled
       |  FROM dim CROSS JOIN ws),
       |un AS (SELECT k.doc_id AS doc_id, k.lang AS lang, k.split AS split,
       |    k.fp AS fp, k.n AS n,
       |    p.epochs + CASE WHEN $mixHash % 1000000 < p.frac_scaled
       |      THEN 1 ELSE 0 END AS n_copies
       |  FROM kept k JOIN pl p ON k.source = p.source),
       |units AS (SELECT doc_id, lang, split, fp, n,
       |    CAST(unnest(range(0, n_copies)) AS BIGINT) AS "copy"
       |  FROM un WHERE n > 0 AND n_copies > 0),
       |base AS (SELECT *, $grpHash % $DefaultGroups AS grp, $ordHash AS h
       |  FROM units),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, grp
       |      ORDER BY n DESC, doc_id ASC, "copy" ASC) AS rk FROM base),
       |a AS (SELECT doc_id, "copy", lang, split, fp, n, h,
       |    CAST(CASE WHEN CAST(FLOOR((rk - 1) / $S) AS BIGINT) % 2 = 0
       |      THEN (rk - 1) % $S ELSE $S - 1 - ((rk - 1) % $S) END AS INT)
       |      AS shard
       |  FROM r),
       |ch AS (SELECT doc_id, "copy", lang, split, fp, shard, n, h,
       |    CAST(unnest(range(0, n, $DefaultChunk)) AS BIGINT) AS start
       |  FROM a),
       |cl AS (SELECT doc_id, "copy", lang, split, fp, shard, h, start,
       |    CAST(LEAST($DefaultChunk, n - start) AS BIGINT) AS chunk_len
       |  FROM ch),
       |c AS (SELECT doc_id, "copy", lang, split, fp, shard, start, chunk_len,
       |    SUM(chunk_len) OVER (PARTITION BY lang, shard
       |      ORDER BY h ASC, doc_id ASC, "copy" ASC, start ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM cl)
       |SELECT doc_id, "copy", lang, split, shard,
       |  CAST(FLOOR((cum - chunk_len) / $DefaultCtx.0) AS BIGINT) AS bin,
       |  start, chunk_len, fp
       |FROM c ORDER BY doc_id, "copy", start""".stripMargin
  }

  // ---------------------------------------------------------------- q143

  /** Shard-export PACKING HEALTH ([[graft.operators.Snapshots
    * .shardReport]]) as an oracle row: per (lang, shard) of sealed
    * v=1's export — document/chunk/token counts, bin count, and the
    * bin-fill share (the padding-waste complement an owner checks
    * before mounting an export). Served at production cost: a
    * manifest-only aggregation behind the staleness fence, no text and
    * no decision scan; the oracle re-aggregates q141's from-scratch
    * manifest composition. */
  private def q143(s: SparkSession, d: String): DataFrame =
    graft.operators.Snapshots.shardReport(s, snapRoot(s, d), 1L)

  private val q143Sql =
    s"""SELECT lang, shard, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(chunk_len) AS BIGINT) AS n_tokens,
       |  CAST(MAX(bin) + 1 AS BIGINT) AS n_bins,
       |  CAST(SUM(chunk_len) AS DOUBLE) / CAST((MAX(bin) + 1)
       |    * ${graft.operators.ShardExport.DefaultCtx} AS DOUBLE) AS fill_share
       |FROM ($q141Sql) m GROUP BY lang, shard ORDER BY lang, shard""".stripMargin

  // ---------------------------------------------------------------- q144

  /** The DATASET CARD of a sealed training set ([[graft.operators
    * .Snapshots.card]]): per-split document and dedup-component counts,
    * total content length, and each split's share of the sealed bytes —
    * the composition record cut alongside a training run, printable
    * months later from the sealed store alone (no text scan: `len` was
    * sealed per doc by the fingerprint store). The oracle re-derives
    * the card from the full declarative pipeline. */
  private def q144(s: SparkSession, d: String): DataFrame =
    graft.operators.Snapshots.card(s, snapRoot(s, d), 1L)

  private val q144Sql =
    s"""WITH kept AS (SELECT f.split AS split, f.component AS component,
       |    CAST(length(d.text) AS BIGINT) AS len
       |  FROM ($q79Sql) f JOIN documents d ON f.doc_id = d.doc_id
       |  WHERE f.keep),
       |agg AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components,
       |    CAST(SUM(len) AS BIGINT) AS total_len
       |  FROM kept GROUP BY split),
       |tot AS (SELECT CAST(SUM(total_len) AS BIGINT) AS len_tot FROM agg)
       |SELECT split, n_docs, n_components, total_len,
       |  CAST(total_len AS DOUBLE) / CAST(len_tot AS DOUBLE) AS len_share
       |FROM agg CROSS JOIN tot ORDER BY split""".stripMargin

  val queries: Seq[GQuery] = Seq(
    GQuery("q69_tfidf_terms", q69, Some(q69Sql), Seq("A16", "A17", "F11")),
    GQuery("q70_decontam_overlap", q70, Some(q70Sql), Seq("A16", "J9")),
    GQuery("q71_stratified_split", q71, Some(q71Sql), Seq("A17", "F11")),
    GQuery("q72_ann_recall", q72, Some(q72Sql), Seq("A16", "O1", "O4")),
    GQuery("q73_dedup_keep_best", q73, Some(q73Sql), Seq("A16", "W2", "U3")),
    GQuery("q74_lang_sample", q74, Some(q74Sql), Seq("W5", "O4")),
    GQuery("q76_hash_embed_topk", q76, Some(q76Sql), Seq("A16", "F11", "O4")),
    GQuery("q79_curation_e2e", q79, Some(q79Sql), Seq("A16", "W2", "U3", "F11")),
    GQuery("q136_forget_rerun", q136, Some(q136Sql), Seq("A16", "W2", "U3", "J11")),
    GQuery("q138_dedup_profile", q138, Some(q138Sql), Seq("A16", "A18", "W2")),
    GQuery("q139_snapshot_export", q139, Some(q139Sql), Seq("A16", "F11", "K6")),
    GQuery("q140_snapshot_diff", q140, Some(q140Sql), Seq("A16", "U3", "J11")),
    GQuery("q141_snapshot_shards", q141, Some(q141Sql), Seq("A16", "A17", "W5", "K6")),
    GQuery("q142_mixture_shards", q142, Some(q142Sql), Seq("A16", "A17", "W5", "K6")),
    GQuery("q143_shard_report", q143, Some(q143Sql), Seq("A17", "A18", "K6")),
    GQuery("q144_dataset_card", q144, Some(q144Sql), Seq("A17", "F11", "K6")))
}
