package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.dedup.Dedup
import graft.similarity.Knn
import graft.functions.{CleaningFunctions => CF, TextFunctions => TF, VectorFunctions => VF}

/** Batch 2 of the driver-contract queries: scalar-function parity ops
  * (SURVEY §2.8), the streaming-shaped events aggregation, and the
  * beyond-parity training-data operators (dedup / similarity / text
  * analysis, SURVEY §7.5). Registered via SparkEntry. */
object QueriesExt {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    QueriesCommon.table(s, dir, name)
  // heavy per-row kernels sit on this one (see QueriesCommon.fannedTable)
  private def ft(s: SparkSession, dir: String, name: String): DataFrame =
    QueriesCommon.fannedTable(s, dir, name)

  /** F13 JSON metadata extraction (`qdrant_import.py:421-432` tries
    * json.loads on every string): typed key pull from a JSON column. */
  private def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"),
        col("value"))
      .orderBy("event_id")

  /** F6/F7/F8 per-sink name compliance rules as column expressions. */
  private def qNameCompliance(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(col("p_partkey"),
        CF.pineconeCompliantName(concat_ws("_", col("p_brand"), col("p_name"))).as("pinecone_name"),
        CF.astraCompliantName(concat_ws(" ", col("p_name"), col("p_type"))).as("astra_name"),
        CF.kdbaiCompliantName(concat(lit("-"), col("p_brand"))).as("kdbai_name"))
      .orderBy("p_partkey")

  /** F4/F5 canonical hashing + F2's md5→UUID formatting. */
  private def qHashUuid(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        substring(md5(col("text")), 1, 5).as("run_id"),
        CF.uuidFromHex(md5(col("text"))).as("uuid"))
      .orderBy("doc_id")

  /** F2 id normalization: digit strings pass through, arbitrary strings
    * become md5-derived UUIDs (`util.py:413-420`). */
  private def qNormalizeId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        CF.normalizeId(col("doc_id").cast("string")).as("nid_num"),
        CF.normalizeId(col("source")).as("nid_str"))
      .orderBy("doc_id")

  /** F14 embedding-input text composition (`reembed.py:211-217`). */
  private def qTextConcat(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        CF.textConcat(Seq(col("lang"), col("source"), col("n_chars"))).as("joined"))
      .orderBy("doc_id")

  /** Token counting: whitespace + BPE-ish regex variants. */
  private def qTokenStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TF.tokenCount(col("text")).as("n_tok"),
        TF.bpeishTokenCount(col("text")).as("n_bpe"))
      .orderBy("doc_id")

  /** Quality scoring: ratio features + composite score. All ratios are
    * exact-integer divisions, so they hash-match the oracle bitwise. */
  private def qQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TF.stopwordRatio(col("text")).as("stop_ratio"),
        TF.punctRatio(col("text")).as("punct_ratio"),
        TF.alphaRatio(col("text")).as("alpha_ratio"),
        TF.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  /** Language-ID heuristic vs the labeled lang column. */
  private def qLangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TF.langIdHeuristic(col("text")).as("pred"), col("lang"))
      .orderBy("doc_id")

  /** Document fingerprinting (rolling/canonical hash). */
  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Exact dedup by content prefix hash — one shuffle on the hash. */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(s, dir, "documents"), "doc_id",
        md5(substring(col("text"), 1, 40)))
      .orderBy("fp")

  /** F16 int8 quantization of the embedding column, rendered as a CSV
    * string for engine-agnostic comparison. */
  private def qQuantize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        array_join(transform(VF.quantizeInt8(col("embedding"), 127.0),
          v => v.cast("string")), ",").as("q"))
      .orderBy("vec_id")

  /** The streaming-shaped workload (batch equivalent of a Structured
    * Streaming tumbling window): hourly event rollup. The hour bucket
    * comes from the schema-sniffing ts accessor
    * (QueriesCommon.eventHourEpoch) — pure integer math under both
    * testdata ts encodings, matching the oracle's date_trunc. */
  private def qWindowHourly(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    raw
      .groupBy(
        QueriesCommon.eventHourEpoch(raw).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)").as("sum_value"))
      .orderBy("hour_epoch", "event_type")
  }

  /** Vector norms (double precision, deterministic fold). */
  private def qVecNorms(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), round(VF.l2Norm(col("embedding")), 6).as("nrm"))
      .orderBy("vec_id")

  /** Brute-force cosine top-k (SURVEY §7.5 similarity baseline). */
  private def qCosineTopk(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Knn.bruteForceTopK(q, e.select("vec_id", "embedding"), 5)
      .withColumn("sim", round(col("sim"), 6))
      .orderBy("q_id", "vec_id")
  }

  /** N-gram Jaccard near-dup candidates via the inverted-index join. */
  private def qNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(ft(s, dir, "documents"), "doc_id", "text",
        k = 3, dfCap = 10, threshold = 0.1)
      .orderBy("doc_a", "doc_b")

  // ----- rows-only (no SQL-expressible oracle: xxhash64-based) -----

  /** MinHash + banded LSH near-dup candidates. */
  private def qMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(ft(s, dir, "documents"), "doc_id", "text",
        shingleK = 3, sigLen = 32, bands = 8, estThreshold = 0.25)
      .orderBy("doc_a", "doc_b")

  /** SimHash fingerprints per document. */
  private def qSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashes(ft(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Embedding near-dup pairs, hyperplane-LSH blocked. */
  private def qEmbedNeardup(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairs(ft(s, dir, "embeddings"), "vec_id", "embedding",
        planes = 8, minCosine = 0.25)
      .orderBy("id_a", "id_b")

  /** LSH-bucketed approximate top-k (the scale path next to
    * qCosineTopk's exact baseline), through the ENGINE-NEUTRAL md5
    * integer planes (`Knn.md5LshTopK`) so the whole ANN route — plane
    * derivation, quantized integer projections, bucket join, cosine
    * ranking — is hash-match gated against DuckDB (previously
    * rows-only with xxhash planes; the xxhash production path remains
    * `Knn.lshTopK`, recall-gated in SimilaritySpec). */
  private def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Knn.md5LshTopK(q, e.select("vec_id", "embedding"), planes = 4, k = 3)
      .withColumn("sim", round(col("sim"), 6))
      .orderBy("q_id", "vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_json_extract" -> (qJsonExtract(_, _)),
    "q_name_compliance" -> (qNameCompliance(_, _)),
    "q_hash_uuid" -> (qHashUuid(_, _)),
    "q_normalize_id" -> (qNormalizeId(_, _)),
    "q_text_concat" -> (qTextConcat(_, _)),
    "q_token_stats" -> (qTokenStats(_, _)),
    "q_quality" -> (qQuality(_, _)),
    "q_lang_id" -> (qLangId(_, _)),
    "q_fingerprint" -> (qFingerprint(_, _)),
    "q_dedup_exact" -> (qDedupExact(_, _)),
    "q_quantize" -> (qQuantize(_, _)),
    "q_window_hourly" -> (qWindowHourly(_, _)),
    "q_vec_norms" -> (qVecNorms(_, _)),
    "q_cosine_topk" -> (qCosineTopk(_, _)),
    "q_ngram_jaccard" -> (qNgramJaccard(_, _)),
    "q_minhash_lsh" -> (qMinhashLsh(_, _)),
    "q_simhash" -> (qSimhash(_, _)),
    "q_embed_neardup" -> (qEmbedNeardup(_, _)),
    "q_ann_lsh" -> (qAnnLsh(_, _)))

  private val stopList = TF.stopwordsSqlLiteral

  val oracleSql: Map[String, String] = Map(
    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, value
        |FROM events ORDER BY event_id""".stripMargin,
    "q_name_compliance" ->
      """SELECT p_partkey,
        |  lower(replace(concat_ws('_', p_brand, p_name), '_', '-')) AS pinecone_name,
        |  regexp_replace(concat_ws(' ', p_name, p_type), '[- ./]', '_', 'g') AS astra_name,
        |  CASE WHEN starts_with(replace(concat('-', p_brand), '-', '_'), '_')
        |       THEN concat('col', replace(concat('-', p_brand), '-', '_'))
        |       ELSE replace(concat('-', p_brand), '-', '_') END AS kdbai_name
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_hash_uuid" ->
      """SELECT doc_id, substr(md5(text), 1, 5) AS run_id,
        |  concat_ws('-', substr(md5(text),1,8), substr(md5(text),9,4),
        |    substr(md5(text),13,4), substr(md5(text),17,4), substr(md5(text),21,12)) AS uuid
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_normalize_id" ->
      """SELECT doc_id, CAST(doc_id AS VARCHAR) AS nid_num,
        |  concat_ws('-', substr(md5(source),1,8), substr(md5(source),9,4),
        |    substr(md5(source),13,4), substr(md5(source),17,4), substr(md5(source),21,12)) AS nid_str
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_concat" ->
      """SELECT doc_id, concat_ws(' ', lang, source, CAST(n_chars AS VARCHAR)) AS joined
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_token_stats" ->
      s"""SELECT doc_id, len(${TF.tokensOracleSql("text")}) AS n_tok,
        |  len(regexp_extract_all(text, '${TF.BpeishRegex}')) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quality" ->
      s"""WITH b AS (
        |  SELECT doc_id, text, ${TF.tokensOracleSql("text")} AS toks FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE len(list_filter(toks, t -> list_contains($stopList, t)))::DOUBLE / len(toks) END AS stop_ratio,
        |    CASE WHEN len(text) = 0 THEN 0.0
        |         ELSE len(regexp_extract_all(text, '${TF.PunctRegex}'))::DOUBLE / len(text) END AS punct_ratio,
        |    CASE WHEN len(text) = 0 THEN 0.0
        |         ELSE len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / len(text) END AS alpha_ratio,
        |    least(len(text)::DOUBLE / 500.0, 1.0) AS len_score
        |  FROM b)
        |SELECT doc_id, stop_ratio, punct_ratio, alpha_ratio,
        |  (len_score + alpha_ratio + least(stop_ratio * 5.0, 1.0)
        |   + greatest(1.0 - punct_ratio * 4.0, 0.0)) / 4.0 AS quality
        |FROM f ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      s"""WITH b AS (SELECT doc_id, lang, ${TF.tokensOracleSql("lower(text)")} AS toks FROM documents),
        |sc AS (SELECT doc_id, lang,
        |  len(list_filter(toks, t -> list_contains(['the','and','of','is','with'], t))) AS s_en,
        |  len(list_filter(toks, t -> list_contains(['el','la','los','que','con'], t))) AS s_es,
        |  len(list_filter(toks, t -> list_contains(['der','die','das','und','mit'], t))) AS s_de,
        |  len(list_filter(toks, t -> list_contains(['le','les','des','est','avec'], t))) AS s_fr
        |  FROM b)
        |SELECT doc_id,
        |  CASE WHEN coalesce(greatest(s_en, s_es, s_de, s_fr), 0) = 0 THEN 'und'
        |       WHEN s_fr = greatest(s_en, s_es, s_de, s_fr) THEN 'fr'
        |       WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
        |       WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
        |       ELSE 'de' END AS pred,
        |  lang
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      s"""SELECT doc_id, md5(trim(regexp_replace(lower(text), '${TF.SepRunRegex}', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(substr(text, 1, 40)) AS fp, min(doc_id) AS keep_id, count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    "q_quantize" ->
      """SELECT vec_id,
        |  array_to_string(list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 127) AS INTEGER)), ',') AS q
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_window_hourly" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |  event_type, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type""".stripMargin,
    "q_vec_norms" ->
      """SELECT vec_id,
        |  round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS nrm
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_ann_lsh" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |             list_transform(embedding::DOUBLE[], x -> floor(x * 1000)) AS qv
        |           FROM embeddings),
        |pl AS (SELECT p, list_transform(
        |         range(0, (SELECT len(embedding) FROM embeddings LIMIT 1)),
        |         j -> CAST(strpos('0123456789abcdef',
        |                substr(md5(p || ':' || j), 1, 1)) - 9 AS DOUBLE)) AS c
        |       FROM range(0, 4) t(p)),
        |pb AS (SELECT vec_id, any_value(v) AS v,
        |         CAST(sum(CASE WHEN list_dot_product(qv, c) >= 0
        |                       THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
        |       FROM e CROSS JOIN pl GROUP BY vec_id, qv),
        |q AS (SELECT vec_id AS q_id, v AS q_vec, bucket FROM pb WHERE vec_id < 8),
        |s AS (SELECT q_id, pb.vec_id,
        |        list_dot_product(q_vec, pb.v) /
        |        (sqrt(list_dot_product(q_vec, q_vec)) *
        |         sqrt(list_dot_product(pb.v, pb.v))) AS sim
        |      FROM q JOIN pb ON q.bucket = pb.bucket AND pb.vec_id <> q_id),
        |r AS (SELECT q_id, vec_id, sim,
        |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
        |      FROM s)
        |SELECT q_id, vec_id, round(sim, 6) AS sim FROM r WHERE rn <= 3
        |ORDER BY q_id, vec_id""".stripMargin,
    "q_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |s AS (SELECT q_id, e.vec_id,
        |        list_dot_product(qv, e.embedding::DOUBLE[]) /
        |        (sqrt(list_dot_product(qv, qv)) *
        |         sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS sim
        |      FROM q, embeddings e WHERE e.vec_id <> q_id),
        |r AS (SELECT q_id, vec_id, sim,
        |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
        |      FROM s)
        |SELECT q_id, vec_id, round(sim, 6) AS sim FROM r WHERE rn <= 5
        |ORDER BY q_id, vec_id""".stripMargin,
    "q_ngram_jaccard" ->
      s"""WITH b AS (SELECT doc_id,
        |    ${TF.tokensOracleSql("lower(text)")} AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |                i -> array_to_string(toks[i:i+2], ' '))) END AS s
        |  FROM b),
        |ex AS (SELECT doc_id, unnest(s) AS sh FROM sh),
        |df AS (SELECT sh, count(*) AS c FROM ex GROUP BY sh),
        |kept AS (SELECT doc_id, ex.sh FROM ex JOIN df ON ex.sh = df.sh WHERE c <= 10),
        |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |          FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b,
        |  i::DOUBLE / (sa.n + sb.n - i) AS jac
        |FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
        |WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.1
        |ORDER BY doc_a, doc_b""".stripMargin)
}
