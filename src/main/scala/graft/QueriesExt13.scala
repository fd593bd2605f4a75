package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.{TextFunctions => TF}
import graft.pipeline.Curation

/** Round-13: the COMPOSED curation pipeline behind the oracle gate.
  * Every stage's rule is the one its standalone query already proves
  * (q_quality_filter, q_dedup_survivors, q_minhash_oracle,
  * q_split_leakfree, q_token_budget, q_pack); what these two queries
  * gate is the COMPOSITION — six stages as one dataflow, checked
  * end-to-end against a single DuckDB CTE chain over the same parquet.
  *
  *  - q_curation_docs:     the curated document set (stage-5 output —
  *                         what a training run reads)
  *  - q_curation_pipeline: the packed-bin occupancy (stage-6 output —
  *                         the batch plan)
  */
object QueriesExt13 {

  // heavy per-row kernels (tokenize, shingle) sit on the fanned scan
  private def ft(s: SparkSession, dir: String): DataFrame =
    QueriesCommon.fannedTable(s, dir, "documents")

  private def qCurationDocs(s: SparkSession, dir: String): DataFrame =
    Curation.curatedDocs(ft(s, dir)).orderBy("doc_id")

  private def qCurationPipeline(s: SparkSession, dir: String): DataFrame =
    Curation.pipeline(ft(s, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_curation_docs" -> (qCurationDocs(_, _)),
    "q_curation_pipeline" -> (qCurationPipeline(_, _)))

  private val stopList = TF.stopwordsSqlLiteral

  /** The shared CTE chain: documents → quality keep → exact-dedup
    * survivors → LSH near-dedup survivors → train split → budget
    * prefix. Each CTE is the standalone query's oracle fragment
    * verbatim (same tokenization, same md5 constructions, same coins). */
  private val curatedCte =
    s"""WITH b AS (SELECT doc_id, source, text,
      |    ${TF.tokensOracleSql("lower(text)")} AS toks,
      |    ${TF.tokensOracleSql("text")} AS rtoks
      |  FROM documents),
      |q AS (SELECT doc_id, source, text, toks, len(toks) AS n_tok,
      |    CASE WHEN len(rtoks) = 0 THEN 0.0
      |         ELSE len(list_filter(rtoks, t -> list_contains($stopList, t)))::DOUBLE / len(rtoks) END AS sr
      |  FROM b),
      |keepq AS (SELECT doc_id, source, text, toks, n_tok FROM q
      |  WHERE n_tok >= 20 AND n_tok <= 80 AND sr <= 0.2),
      |f AS (SELECT *, md5(trim(lower(text))) AS fp FROM keepq),
      |surv AS (SELECT doc_id, source, toks, n_tok, fp FROM (
      |    SELECT *, min(doc_id) OVER (PARTITION BY fp) AS mn FROM f)
      |  WHERE doc_id = mn),
      |sh3 AS (SELECT doc_id, unnest(
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
      |                i -> array_to_string(toks[i:i+2], ' '))) END) AS sh
      |  FROM surv),
      |mh AS (SELECT doc_id,
      |    min(md5('0:' || sh)) AS mh0, min(md5('1:' || sh)) AS mh1,
      |    min(md5('2:' || sh)) AS mh2, min(md5('3:' || sh)) AS mh3,
      |    min(md5('4:' || sh)) AS mh4, min(md5('5:' || sh)) AS mh5,
      |    min(md5('6:' || sh)) AS mh6, min(md5('7:' || sh)) AS mh7
      |  FROM sh3 GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, mh0 || mh1 AS v FROM mh UNION ALL
      |  SELECT doc_id, 1, mh2 || mh3 FROM mh UNION ALL
      |  SELECT doc_id, 2, mh4 || mh5 FROM mh UNION ALL
      |  SELECT doc_id, 3, mh6 || mh7 FROM mh),
      |nddrop AS (SELECT DISTINCT doc_id FROM (
      |    SELECT doc_id, min(doc_id) OVER (PARTITION BY band, v) AS mn
      |    FROM bands)
      |  WHERE mn < doc_id),
      |nd AS (SELECT * FROM surv
      |  WHERE doc_id NOT IN (SELECT doc_id FROM nddrop)),
      |tr AS (SELECT * FROM nd
      |  WHERE (instr('0123456789abcdef', substr(md5(fp), 31, 1)) - 1) * 16
      |      + instr('0123456789abcdef', substr(md5(fp), 32, 1)) - 1 < 230),
      |bud AS (SELECT *,
      |    (CAST(substr(source, 4) AS INT) % 3 + 1) * 1000 AS budget
      |  FROM tr),
      |cum AS (SELECT *, sum(n_tok) OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM bud),
      |kept AS (SELECT doc_id, source, n_tok FROM cum WHERE cum <= budget)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_curation_docs" ->
      s"""$curatedCte
        |SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok
        |FROM kept ORDER BY doc_id""".stripMargin,
    "q_curation_pipeline" ->
      s"""$curatedCte,
        |packed AS (SELECT source, doc_id, n_tok,
        |    CAST(((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
        |      // 512) AS BIGINT) AS bin
        |  FROM kept)
        |SELECT source, bin, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM packed GROUP BY source, bin ORDER BY source, bin""".stripMargin)
}
