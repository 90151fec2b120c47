package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis operators for the training-data pipeline: language ID,
  * quality scoring, token statistics, content fingerprinting + exact
  * dedup. All per-row Column algebra (codegen'd HOFs) — embarrassingly
  * parallel, no shuffle except final small aggregations; holds at 100 TB.
  */
object TextQ {

  private val langWords: Seq[(String, Seq[String])] = Seq(
    "sqlish" -> Seq("join", "merge", "hash", "scan", "sort"),
    "sparkish" -> Seq("spark", "batch", "stream", "window", "group"),
    "datish" -> Seq("data", "value", "row", "key", "table"))

  /** Language-ID heuristic: per-document token hits against per-language
    * marker lexicons, argmax with fixed tie order. */
  private def q27(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).withColumn("toks", tokens(col("text")))
    val scored = langWords.foldLeft(docs) { case (df, (lang, words)) =>
      df.withColumn(s"score_$lang",
        size(filter(col("toks"), t => t.isin(words.map(lit(_)): _*))))
    }
    val best = langWords.map { case (l, _) => col(s"score_$l") }.reduce(greatest(_, _))
    val bestLang = langWords.foldRight(lit("unknown"): org.apache.spark.sql.Column) {
      case ((l, _), acc) => when(col(s"score_$l") === best, lit(l)).otherwise(acc)
    }
    val outCols = Seq(col("doc_id"), col("pred_lang")) ++
      langWords.map { case (l, _) => col(s"score_$l") }
    scored
      .withColumn("pred_lang", when(best === 0, "unknown").otherwise(bestLang))
      .select(outCols: _*)
      .orderBy(col("doc_id"))
  }

  private val q27Sql = {
    val scores = langWords.map { case (l, ws) =>
      val list = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(${sqlTokens("text")}, t -> list_contains($list, t))) AS score_$l"
    }.mkString(",\n  ")
    val g = langWords.map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
    val caseExpr = langWords.map { case (l, _) => s"WHEN score_$l = $g THEN '$l'" }
      .mkString("CASE ", " ", " ELSE 'unknown' END")
    s"""WITH scored AS (SELECT doc_id,
       |  $scores
       |FROM documents)
       |SELECT doc_id,
       |  CASE WHEN $g = 0 THEN 'unknown' ELSE $caseExpr END AS pred_lang,
       |  ${langWords.map { case (l, _) => s"score_$l" }.mkString(", ")}
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** Quality scoring: token count, mean token length, stopword ratio,
    * punctuation count → composite score. */
  private def q28(s: SparkSession, d: String): DataFrame = {
    val (nTokens, sumLen, nStop, nPunct) = qualityCounters(col("toks"), col("text"))
    Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", nTokens)
      .withColumn("sum_len", sumLen)
      .withColumn("n_stop", nStop)
      .withColumn("n_punct", nPunct)
      .withColumn("mean_tok_len",
        col("sum_len").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("stop_ratio",
        col("n_stop").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("quality",
        qualityScore(col("n_tokens"), col("sum_len"), col("n_stop"), col("n_punct")))
      .select(col("doc_id"), col("n_tokens"), col("mean_tok_len"),
        col("stop_ratio"), col("n_punct"), col("quality"))
      .orderBy(col("doc_id"))
  }

  private val q28Sql =
    s"""WITH t AS (SELECT doc_id, text, ${sqlTokens("text")} AS toks FROM documents),
       |m AS (SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, x -> CAST(length(x) AS BIGINT))), (acc, x) -> acc + x) AS sum_len,
       |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS BIGINT) AS n_stop,
       |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct
       |FROM t)
       |SELECT doc_id, n_tokens,
       |  CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_tok_len,
       |  CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
       |  n_punct,
       |  (CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.25
       |    + (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 2.0
       |    - CAST(n_punct AS DOUBLE) * 0.1 AS quality
       |FROM m ORDER BY doc_id""".stripMargin

  /** Token counting: whitespace tokens, BPE-ish regex pieces, distinct
    * token count, chars-per-token. */
  private def q29(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_ws_tokens", size(col("toks")).cast(LongType))
      .withColumn("n_bpe_pieces",
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast(LongType))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast(LongType))
      .withColumn("chars_per_token",
        col("n_chars").cast(DoubleType) / col("n_ws_tokens").cast(DoubleType))
      .select(col("doc_id"), col("n_ws_tokens"), col("n_bpe_pieces"),
        col("n_distinct"), col("chars_per_token"))
      .orderBy(col("doc_id"))

  private val q29Sql =
    s"""SELECT doc_id,
       |  CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_pieces,
       |  CAST(len(list_distinct(${sqlTokens("text")})) AS BIGINT) AS n_distinct,
       |  CAST(n_chars AS DOUBLE) / CAST(len(${sqlTokens("text")}) AS BIGINT) AS chars_per_token
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Document fingerprint (rolling content hash) + exact-dedup grouping:
    * canonical keep-first representative per fingerprint. */
  private def q30(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("fingerprint", strHash(col("text")))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select(col("fingerprint"), col("keep_doc_id"), col("n_copies"))
      .orderBy(col("keep_doc_id"))

  private val q30Sql =
    s"""SELECT ${sqlStrHash("text")} AS fingerprint,
       |  MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
       |FROM documents GROUP BY 1 ORDER BY keep_doc_id""".stripMargin

  val queries: Seq[GQuery] = Seq(
    GQuery("q27_language_id", q27, Some(q27Sql), Seq("F10", "C12")),
    GQuery("q28_quality_score", q28, Some(q28Sql), Seq("A5", "F11")),
    GQuery("q29_token_stats", q29, Some(q29Sql), Seq("A18", "C13")),
    GQuery("q30_fingerprint_dedup", q30, Some(q30Sql), Seq("A16")))
}
