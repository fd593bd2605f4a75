package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Bpe

/** Round-15 additions: the two remaining legs of the tokenizer-as-a-
  * product pipeline, each under the DuckDB oracle gate end to end.
  *
  *  - q_bpe_ids_kernel: the MAP-ONLY id-emission kernel
  *    (`Bpe.docTokenIdsFast` / the `BpeDocTokenIds` codegen
  *    expression) over the whole corpus, flattened. The gate is the
  *    order-sensitive checksum idiom over the FLAT token position
  *    (q_bpe_ids_checksum covers word_pos; this covers the flattened
  *    concatenation order), so a kernel that dropped, reordered, or
  *    mis-id'd a single token anywhere in the corpus hash-mismatches.
  *  - q_pack_ids: PACKED training shards (`Bpe.packTokenIds`) — per
  *    source, documents in doc_id order, id sequences EOS-terminated
  *    (id −2, distinct from the −1 UNK sentinel) and concatenated,
  *    cut into 512-id shards. Gated shard-for-shard with an exact
  *    order-sensitive fingerprint: md5 of the comma-joined id string,
  *    so shard boundaries, intra-shard order, and every id must all
  *    match the oracle's window-arithmetic reconstruction.
  *  - q_pack_shuffle: the same shards under the EPOCH-SHUFFLED
  *    document order (`packTokenIds(shuffleSeed)`) — per-source
  *    md5(seed:doc_id) permutation, fingerprinted shard-for-shard
  *    against the oracle reconstructing the identical permutation.
  *  - q_pack_recipe: the three composed — temperature-smoothed
  *    mixture → id emission → epoch-shuffled packing, the full
  *    pretraining-data recipe under one shard-exact gate.
  *
  * Both oracles extend QueriesExt14's bpeIdsCtes chain (the learned
  * 8-merge tokenizer + engine-neutral id table), adding only the flat
  * position / offset arithmetic: the flat position of a token within
  * its document is ROW_NUMBER over (word_pos, token_pos), and a
  * document's global offset is the per-source running sum of
  * (n_tokens + 1) — the +1 being its EOS marker.
  */
object QueriesExt16 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    QueriesCommon.table(s, dir, name)

  /** Full-corpus checksum of the map-only id kernel: per source, token
    * count, Σ id, and the order-sensitive Σ id·(flat_pos+1). */
  private def qBpeIdsKernel(s: SparkSession, dir: String): DataFrame = {
    val (docs, merges, idRows) = QueriesExt14.learnedIds(s, dir)
    Bpe.docTokenIdsFast(docs, "text", Seq("doc_id", "source"), merges, idRows)
      .select(col("source"), posexplode(col("token_ids")).as(Seq("p", "id")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("id")).as("id_sum"),
        sum(col("id") * (col("p") + 1)).as("flat_sum"))
      .orderBy("source")
  }

  /** Packed 512-id shards with exact per-shard fingerprints. The
    * kernel emits empty sequences for token-less documents; the
    * oracle's word explode has no rows for them, so they are filtered
    * out here to keep the two document sets (and hence EOS markers)
    * identical — a token-less doc contributes nothing a trainer would
    * pack anyway. */
  private def qPackIds(s: SparkSession, dir: String): DataFrame = {
    val (docs, merges, idRows) = QueriesExt14.learnedIds(s, dir)
    val perDoc = Bpe
      .docTokenIdsFast(docs, "text", Seq("source", "doc_id"), merges, idRows)
      .filter(col("n_tokens") > 0)
    Bpe.packTokenIds(perDoc, "source", "doc_id", seqLen = 512, eosId = -2L)
      .select(col("source"), col("shard"), col("n_ids"),
        md5(array_join(col("ids"), ",")).as("fp"))
      .orderBy("source", "shard")
  }

  /** Epoch-shuffled packing (`shuffleSeed`): the same shards as
    * q_pack_ids but with the per-source document order permuted by
    * md5("ep1:" + doc_id) — the deterministic, engine-neutral epoch
    * permutation a training loop re-derives per epoch. Gated with the
    * same shard-exact fingerprints: boundaries, order, and ids under
    * the PERMUTED layout must all match the oracle's reconstruction
    * of the identical permutation. */
  private def qPackShuffle(s: SparkSession, dir: String): DataFrame = {
    val (docs, merges, idRows) = QueriesExt14.learnedIds(s, dir)
    val perDoc = Bpe
      .docTokenIdsFast(docs, "text", Seq("source", "doc_id"), merges, idRows)
      .filter(col("n_tokens") > 0)
    Bpe.packTokenIds(perDoc, "source", "doc_id", seqLen = 512, eosId = -2L,
        shuffleSeed = Some("ep1"))
      .select(col("source"), col("shard"), col("n_ids"),
        md5(array_join(col("ids"), ",")).as("fp"))
      .orderBy("source", "shard")
  }

  /** The FULL pretraining-data recipe as ONE oracle-gated pipeline:
    * temperature-smoothed mixture over the language axis (α = 0.5 —
    * the XLM-R smoothing, exact across engines by the q_mixture_
    * temperature construction) → map-only token-ID emission with the
    * corpus-learned tokenizer (trained PRE-filter, the Curation
    * convention) → epoch-shuffled packing into fixed shards. Three
    * independently-gated operators composed end to end and gated
    * AGAIN shard-for-shard — mixture keep set, id sequences, epoch
    * permutation, shard boundaries and every id must all line up with
    * DuckDB's reconstruction. Shape at 100 TB: the mixture keep is
    * map-side under a ~|langs|-row broadcast, id emission is map-only,
    * packing is the per-source window cumsum + one (source, shard)
    * exchange — ONE corpus-scale exchange in the whole recipe. */
  private def qPackRecipe(s: SparkSession, dir: String): DataFrame = {
    val (docs, merges, idRows) = QueriesExt14.learnedIds(s, dir)
    val kept = graft.ops.Mixture.temperature(docs, "lang", "doc_id",
      alpha = 0.5)
    val perDoc = Bpe
      .docTokenIdsFast(kept, "text", Seq("source", "doc_id"), merges, idRows)
      .filter(col("n_tokens") > 0)
    Bpe.packTokenIds(perDoc, "source", "doc_id", seqLen = 512, eosId = -2L,
        shuffleSeed = Some("ep1"))
      .select(col("source"), col("shard"), col("n_ids"),
        md5(array_join(col("ids"), ",")).as("fp"))
      .orderBy("source", "shard")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bpe_ids_kernel" -> (qBpeIdsKernel(_, _)),
    "q_pack_ids" -> (qPackIds(_, _)),
    "q_pack_shuffle" -> (qPackShuffle(_, _)),
    "q_pack_recipe" -> (qPackRecipe(_, _)))

  /** QueriesExt14.bpeIdsCtes + the (doc, flat position, id) stream —
    * the shared tail of both oracles. */
  private def tidCte: String =
    QueriesExt14.bpeIdsCtes("") + """,
      |tid AS MATERIALIZED (SELECT t.doc_id, t.source, v.token_id,
      |  ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY t.wp1, t.tp1) AS fp1
      |  FROM tkn t JOIN vocab v ON t.token = v.token)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_bpe_ids_kernel" ->
      (tidCte +
        """
          |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
          |  CAST(sum(token_id) AS BIGINT) AS id_sum,
          |  CAST(sum(token_id * fp1) AS BIGINT) AS flat_sum
          |FROM tid GROUP BY source ORDER BY source""".stripMargin),
    "q_pack_ids" ->
      (tidCte +
        """,
          |doff AS MATERIALIZED (SELECT doc_id, source, n,
          |    sum(n + 1) OVER (PARTITION BY source ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (n + 1) AS off
          |  FROM (SELECT doc_id, source, count(*) AS n FROM tid GROUP BY doc_id, source)),
          |stream AS (
          |  SELECT t.source, d.off + t.fp1 - 1 AS gpos, t.token_id AS id
          |  FROM tid t JOIN doff d ON t.doc_id = d.doc_id
          |  UNION ALL
          |  SELECT source, off + n AS gpos, -2 AS id FROM doff)
          |SELECT source, CAST(gpos // 512 AS BIGINT) AS shard,
          |  CAST(count(*) AS BIGINT) AS n_ids,
          |  md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY gpos)) AS fp
          |FROM stream GROUP BY source, shard ORDER BY source, shard""".stripMargin),
    "q_pack_shuffle" ->
      (tidCte +
        """,
          |doff AS MATERIALIZED (SELECT doc_id, source, n,
          |    sum(n + 1) OVER (PARTITION BY source
          |      ORDER BY md5('ep1:' || CAST(doc_id AS VARCHAR)), doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (n + 1) AS off
          |  FROM (SELECT doc_id, source, count(*) AS n FROM tid GROUP BY doc_id, source)),
          |stream AS (
          |  SELECT t.source, d.off + t.fp1 - 1 AS gpos, t.token_id AS id
          |  FROM tid t JOIN doff d ON t.doc_id = d.doc_id
          |  UNION ALL
          |  SELECT source, off + n AS gpos, -2 AS id FROM doff)
          |SELECT source, CAST(gpos // 512 AS BIGINT) AS shard,
          |  CAST(count(*) AS BIGINT) AS n_ids,
          |  md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY gpos)) AS fp
          |FROM stream GROUP BY source, shard ORDER BY source, shard""".stripMargin),
    "q_pack_recipe" ->
      (tidCte +
        s""",
          |counts AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY lang),
          |wt AS (SELECT lang, n_total,
          |    GREATEST(1, CAST(round(1024 * sqrt(n_total) /
          |      (SELECT sqrt(max(n_total)) FROM counts)) AS BIGINT)) AS w
          |  FROM counts),
          |lim AS (SELECT n_total AS n_m, w AS w_m FROM wt
          |        ORDER BY CAST(n_total AS DOUBLE) / w, lang NULLS FIRST LIMIT 1),
          |kept AS MATERIALIZED (SELECT d.doc_id FROM documents d
          |  JOIN wt ON d.lang = wt.lang CROSS JOIN lim
          |  WHERE (${QueriesExt12.duckBucket}) * lim.w_m * wt.n_total
          |        < 256 * wt.w * lim.n_m),
          |doff AS MATERIALIZED (SELECT doc_id, source, n,
          |    sum(n + 1) OVER (PARTITION BY source
          |      ORDER BY md5('ep1:' || CAST(doc_id AS VARCHAR)), doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (n + 1) AS off
          |  FROM (SELECT t.doc_id, t.source, count(*) AS n FROM tid t
          |        JOIN kept k ON t.doc_id = k.doc_id GROUP BY t.doc_id, t.source)),
          |stream AS (
          |  SELECT t.source, d.off + t.fp1 - 1 AS gpos, t.token_id AS id
          |  FROM tid t JOIN doff d ON t.doc_id = d.doc_id
          |  UNION ALL
          |  SELECT source, off + n AS gpos, -2 AS id FROM doff)
          |SELECT source, CAST(gpos // 512 AS BIGINT) AS shard,
          |  CAST(count(*) AS BIGINT) AS n_ids,
          |  md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY gpos)) AS fp
          |FROM stream GROUP BY source, shard ORDER BY source, shard""".stripMargin))
}
