package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{TextFunctions => TF}

/** Round-3 continuation batch 2: corpus reshaping operators —
  *
  *  - q_chunk: overlapping token-window chunking (the RAG / context-
  *             window prep step): size-32 windows at stride 24, each
  *             chunk fingerprinted; pure per-row generation (explode of
  *             a computed sequence), no shuffle except the output sort
  *  - q_pack: token-budget sequence packing: docs are packed into
  *            512-token bins per source via a running-sum window — the
  *            batch-construction step of LLM training pipelines. The
  *            window partitions by source, so at 100 TB each key's
  *            cumsum is independent and the op scales like any per-key
  *            window (a global pack order would serialize; don't).
  */
object QueriesExt8 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    QueriesCommon.table(s, dir, name)

  /** Overlapping fixed-size chunks: a window of `size` tokens starts at
    * every `stride` position while the start is inside the doc; trailing
    * windows may be short (slice clamps at the end). Emits
    * (doc_id, chunk_id, n_tokens, fingerprint). */
  def chunk(docs: DataFrame, width: Int = 32, stride: Int = 24): DataFrame =
    QueriesCommon.tokens(docs)
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(toks), $stride), st -> slice(toks, st, $width))"))
        .as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).as("n_tokens"),
        md5(array_join(col("chunk"), " ")).as("fp"))

  private def qChunk(s: SparkSession, dir: String): DataFrame =
    chunk(t(s, dir, "documents"), 32, 24)
      .orderBy("doc_id", "chunk_id")

  /** Token-budget packing: per source, docs in doc_id order are
    * assigned to the bin holding their cumulative token start
    * (bin = exclusive-cumsum div budget, pure long arithmetic — a
    * double division before the floor would go inexact past 2⁵³
    * cumulative tokens, exactly the regime a 100 TB corpus reaches);
    * reports per-bin occupancy. One per-source window cumsum + one
    * aggregate. */
  def pack(docs: DataFrame, budget: Int = 512): DataFrame = {
    // counts-only: TextFunctions.tokenCount ≡ size(toksExpr) (proof at the def)
    val n = graft.functions.TextFunctions.tokenCount(col("text"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("source"), col("doc_id"), n.as("n_toks"))
      .withColumn("cum_start", sum(col("n_toks")).over(w) - col("n_toks"))
      .withColumn("bin", expr(s"cum_start div $budget"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
  }

  private def qPack(s: SparkSession, dir: String): DataFrame =
    pack(t(s, dir, "documents"), 512).orderBy("source", "bin")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_chunk" -> (qChunk(_, _)),
    "q_pack" -> (qPack(_, _)))

  val oracleSql: Map[String, String] = Map(
    "q_chunk" ->
      s"""WITH b AS (SELECT doc_id,
        |    ${TF.tokensOracleSql("lower(text)")} AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, toks, range(1, len(toks) + 1, 24) AS sts
        |  FROM b WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, unnest(sts) AS st,
        |    generate_subscripts(sts, 1) - 1 AS chunk_id FROM s)
        |SELECT doc_id, chunk_id, len(toks[st:st+31]) AS n_tokens,
        |  md5(array_to_string(toks[st:st+31], ' ')) AS fp
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q_pack" ->
      s"""WITH n AS (SELECT source, doc_id,
        |    len(${TF.tokensOracleSql("lower(text)")}) AS n_toks
        |  FROM documents),
        |c AS (SELECT source, doc_id, n_toks,
        |    CAST(((sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks)
        |      // 512) AS BIGINT) AS bin
        |  FROM n)
        |SELECT source, bin, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens
        |FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin)
}
