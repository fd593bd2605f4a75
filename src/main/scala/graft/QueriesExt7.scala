package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{TextFunctions => TF}

/** Round-3 continuation batch: four more operator families behind the
  * DuckDB oracle gate, each one a pipeline capability not yet covered:
  *
  *  - q_dup_spans:     exact repeated-substring statistics (the
  *                     Lee et al. 2022 "Deduplicating Training Data"
  *                     signal): per document, the fraction of its word
  *                     8-grams that also occur in some OTHER document
  *  - q_funnel:        ordered event funnel (view → click → purchase)
  *                     computed with chained per-user window minima —
  *                     one exchange, one sort, three window passes
  *  - q_zorder:        Z-order (Morton) interleaved clustering key —
  *                     the layout op behind multi-dimensional data
  *                     skipping; `repartitionByRange($"z")` before a
  *                     write gives parquet row-group min/max pruning on
  *                     BOTH dimensions at once
  *  - q_token_entropy: per-document Shannon entropy of the token
  *                     distribution — the information-theoretic quality
  *                     score complementing ratio-based q_quality
  */
object QueriesExt7 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    QueriesCommon.table(s, dir, name)
  // heavy per-row kernels sit on this one (see QueriesCommon.fannedTable)
  private def ft(s: SparkSession, dir: String, name: String): DataFrame =
    QueriesCommon.fannedTable(s, dir, name)

  /** Exact repeated-span statistics over word 8-grams — delegates to
    * `Dedup.dupSpanStats` (grams shuffle as xxhash64 longs via a
    * compiled kernel; 2.0 → 1.2 s at sf0.1; see its scaladoc). */
  private def qDupSpans(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.dupSpanStats(ft(s, dir, "documents"), "doc_id", "text", 8)
      .orderBy("doc_id")

  /** Ordered conversion funnel: per user, the first 'view', the first
    * 'click' AFTER that view, the first 'purchase' AFTER that click —
    * then one row of stage counts. The three stage times are chained
    * window minima over the SAME user partition, so the whole funnel is
    * one hash exchange + one sort regardless of stage count; at 100 TB
    * it scales exactly like any per-user window aggregate (and the
    * pattern extends to k stages with k chained columns, not k joins). */
  private def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val staged = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "click" && col("ts") > col("t1"),
        col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
        col("ts"))).over(w))
    staged.select("user_id", "t1", "t2", "t3").distinct()
      .agg(
        count(when(col("t1").isNotNull, 1)).as("n_view"),
        count(when(col("t2").isNotNull, 1)).as("n_view_click"),
        count(when(col("t3").isNotNull, 1)).as("n_view_click_purchase"))
  }

  // Morton interleave of two 16-bit keys, generated bit-by-bit so the
  // Spark Column tree and the DuckDB SQL text come from the same loop
  // and cannot drift. 32 shift-mask-multiply terms, all codegen'd.
  private def mortonCol(a: Column, b: Column): Column =
    (0 until 16).map { i =>
      shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  private def mortonSql(a: String, b: String): String =
    (0 until 16).map { i =>
      s"((($a >> $i) & 1) * ${1L << (2 * i)} + ((($b >> $i) & 1) * ${1L << (2 * i + 1)}))"
    }.mkString(" + ")

  /** Z-order clustering key over (customer, price bucket): interleaving
    * the two dimensions' bits makes rows close in EITHER dimension close
    * in the one sort order, so `repartitionByRange(col("z"))` + write
    * yields parquet files whose row-group min/max prune under predicates
    * on either column — the standard lakehouse OPTIMIZE ZORDER layout.
    * The query materializes the first 50 keys in z order (a
    * TakeOrderedAndProject — no full sort) as the oracle-checkable
    * surface of the expression. */
  private def qZorder(s: SparkSession, dir: String): DataFrame = {
    val xk = col("o_custkey").bitwiseAND(lit(65535L))
    val yk = floor(col("o_totalprice") / 100.0).cast("long").bitwiseAND(lit(65535L))
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        mortonCol(xk, yk).as("z"))
      .orderBy(col("z"), col("o_orderkey"))
      .limit(50)
  }

  /** Shannon entropy of each document's token distribution,
    * H = ln(n) − Σ c·ln(c) / n — low entropy ⇒ repetitive/templated
    * text (the repetition-family complement to q_repetition's Gopher
    * ratios). Two keyed aggregations (doc,token) → (doc); both partial-
    * aggregate map-side, nothing is quadratic. */
  private def qTokenEntropy(s: SparkSession, dir: String): DataFrame =
    entropyOf(t(s, dir, "documents"))

  /** Entropy kernel over any (doc_id, text) frame (spec-tested on
    * hand-built docs; the sf corpus goes through the oracle gate). */
  def entropyOf(docs: DataFrame): DataFrame =
    QueriesCommon.tokens(docs)
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        round(
          log(sum(col("c")).cast("double")) -
            sum(col("c").cast("double") * log(col("c").cast("double"))) /
              sum(col("c")).cast("double"),
          6).as("entropy"))
      .orderBy("doc_id")

  /** Exact-substring excision (`dedup.Dedup.exciseDupSpans` — the
    * removal half of Lee et al.'s ExactSubstr, at 8-gram granularity):
    * per doc, the duplicated-span-free text. The cleaned text goes
    * through md5 so the gate hash-matches the WHOLE reconstructed
    * string without shipping megabytes of text through the compare. */
  private def qDupExcise(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.exciseDupSpans(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        md5(col("clean")).as("clean_md5"))
      .orderBy("doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dup_spans" -> (qDupSpans(_, _)),
    "q_dup_excise" -> (qDupExcise(_, _)),
    "q_funnel" -> (qFunnel(_, _)),
    "q_zorder" -> (qZorder(_, _)),
    "q_token_entropy" -> (qTokenEntropy(_, _)))

  val oracleSql: Map[String, String] = Map(
    "q_dup_excise" ->
      s"""WITH b AS (SELECT doc_id,
        |    ${TF.tokensOracleSql("lower(text)")} AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS tok,
        |          generate_subscripts(toks, 1) - 1 AS t FROM b),
        |g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
        |       FROM b WHERE len(toks) >= 8),
        |g AS (SELECT doc_id, i - 1 AS p, array_to_string(toks[i:i+7], ' ') AS gram
        |      FROM g0),
        |dh AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT doc_id, unnest(range(p, p + 8)) AS t
        |        FROM g JOIN dh USING (gram)),
        |kept AS (SELECT tok.doc_id, tok.t, tok.tok
        |         FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.t = cov.t
        |         WHERE cov.t IS NULL),
        |ka AS (SELECT doc_id, count(*) AS n_kept,
        |         md5(string_agg(tok, ' ' ORDER BY t)) AS clean_md5
        |       FROM kept GROUP BY doc_id),
        |ca AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(ka.n_kept, 0) + coalesce(ca.n_removed, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(ca.n_removed, 0) AS BIGINT) AS n_removed,
        |  coalesce(ka.clean_md5, md5('')) AS clean_md5
        |FROM documents d LEFT JOIN ka USING (doc_id) LEFT JOIN ca USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q_dup_spans" ->
      s"""WITH b AS (SELECT doc_id,
        |    ${TF.tokensOracleSql("lower(text)")} AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
        |        i -> array_to_string(toks[i:i+7], ' '))) AS gram
        |      FROM b WHERE len(toks) >= 8),
        |h AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
        |  round(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS dup_frac
        |FROM g JOIN h USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_funnel" ->
      """WITH a AS (SELECT user_id, ts, event_type,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t1 FROM events),
        |b AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
        |      OVER (PARTITION BY user_id) AS t2 FROM a),
        |c AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
        |      OVER (PARTITION BY user_id) AS t3 FROM b),
        |u AS (SELECT DISTINCT user_id, t1, t2, t3 FROM c)
        |SELECT count(CASE WHEN t1 IS NOT NULL THEN 1 END) AS n_view,
        |  count(CASE WHEN t2 IS NOT NULL THEN 1 END) AS n_view_click,
        |  count(CASE WHEN t3 IS NOT NULL THEN 1 END) AS n_view_click_purchase
        |FROM u""".stripMargin,
    "q_zorder" -> {
      val z = mortonSql("(o_custkey & 65535)",
        "(CAST(floor(o_totalprice / 100.0) AS BIGINT) & 65535)")
      s"""SELECT o_orderkey, o_custkey, $z AS z
         |FROM orders ORDER BY z, o_orderkey LIMIT 50""".stripMargin
    },
    "q_token_entropy" ->
      s"""WITH tok AS (SELECT doc_id, unnest(
        |    ${TF.tokensOracleSql("lower(text)")}) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  round(ln(CAST(sum(c) AS DOUBLE)) -
        |        sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 6) AS entropy
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
