package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{KnownNotNull, KnownNullable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.{Bpe, TextFunctions => TF}
import graft.similarity.Kmeans

/** Round-13 additions: the two remaining corpus-scale TRAINING
  * artifacts a data pipeline derives from the data itself, each put
  * behind the DuckDB oracle gate end to end.
  *
  *  - q_kmeans_iter_oracle: one FULL distributed Lloyd iteration
  *    (md5-seeded init → codegen'd argmax-dot assignment → exact
  *    sum/count mean update) — the literal `Kmeans.updateStats`
  *    production dataflow. QueriesExt10's header noted "k-means isn't
  *    SQL-expressible" for the multi-round driver loop; a single full
  *    iteration IS, in the repo's own md5-seed idiom, so the
  *    distributed trainer's one-round semantics are now hash-gated the
  *    same way the IVF/PQ builds are (multi-round convergence stays
  *    spec-gated in KmeansSpec).
  *  - q_bpe_pairs:        the weighted adjacent-pair statistics BPE
  *                        ranks merges by (initial char alphabet).
  *  - q_bpe_learn_oracle: the first 4 LEARNED merges — the actual
  *                        argmax/apply loop, not just its first step
  *                        (the doubled-sep `replace` encoding makes
  *                        each merge one string call on both engines).
  *  - q_bpe_encode:       per-source corpus token counts under an
  *                        8-merge learned tokenizer, from the map-only
  *                        count kernel.
  *
  * The BPE oracle chain mirrors `Bpe.learnDistributed` stage for
  * stage: wf = wordFreq (same empty/SEP filters), w0 = the wrapped
  * symbol string, then per merge i: p_i adjacent pairs, m_i the
  * (count DESC, left, right) argmax, w_i the boundary-safe replace.
  * `AS MATERIALIZED` pins DuckDB to evaluate each stage once (the
  * default inlining re-expands the chain per reference and goes
  * exponential in numMerges); the 1-row m_i joins in by CROSS JOIN for
  * the same reason. All outputs are integer-exact; the k-means oracle
  * rounds its double means to 6dp on both sides (the q_centroids_agg
  * precedent — identical up to summation order at ~1e-15).
  */
object QueriesExt14 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    QueriesCommon.table(s, dir, name)

  /** The vocab-scale word table, MATERIALIZED once per query
    * invocation (`persist`) — the Spark twin of the oracle chains'
    * `wf AS MATERIALIZED`. Every BPE gate consults this table from
    * several driver actions (the learn loop's route stats + vocab
    * fetch) and plan subtrees (the id-table build), each of which
    * would otherwise re-run the corpus-scale explode+aggregate from
    * parquet — measured 4-5 recomputes per
    * query at r15 (the DuckDB twin pays the pass ONCE by contract).
    * Scale story: this is the vocab-scale table (10⁵× smaller than
    * the corpus), exactly what a production trainer pins in memory.
    * The bench's per-pass `clearCache()` drops it between timed runs,
    * so every invocation still re-pays the corpus pass. */
  private[graft] def materializedWords(docs: DataFrame,
      textCol: String = "text"): DataFrame =
    Bpe.wordFreq(docs, textCol).persist()

  /** One full Lloyd iteration at k=4 from md5 seeds: per-cluster sizes
    * and mean vectors in long format (list_id, pos, n, centroid). */
  private def qKmeansIterOracle(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val seeds = Kmeans.md5Seeds(e, "vec_id", "embedding", k = 4)
    Kmeans.updateStats(e, "vec_id", "embedding", seeds)
      .select(col("list_id"), col("n"), posexplode(col("sum")))
      .select(col("list_id"), col("pos"), col("n"),
        round(col("col") / col("n"), 6).as("centroid"))
      .orderBy("list_id", "pos")
  }

  /** Initial adjacent-pair statistics over the word-frequency table:
    * the ranking BPE's first merge maximizes (top 20, deterministic
    * count/left/right ordering). */
  private def qBpePairs(s: SparkSession, dir: String): DataFrame = {
    val words = Bpe.wordFreq(t(s, dir, "documents"), "text")
    val chars = split(col("word"), "")
    words
      .select(explode(zip_with(
          slice(chars, lit(1), size(chars) - 1),
          slice(chars, lit(2), size(chars) - 1),
          (l, r) => struct(l.as("l"), r.as("r")))).as("p"), col("freq"))
      .groupBy(col("p.l").as("left_sym"), col("p.r").as("right_sym"))
      .agg(sum("freq").as("pair_freq"))
      .orderBy(desc("pair_freq"), asc("left_sym"), asc("right_sym"))
      .limit(20)
  }

  /** The first 4 learned merges (rank, symbols, pair frequency at
    * learn time) — the complete argmax/apply loop under the gate. */
  private def qBpeLearnOracle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = materializedWords(t(s, dir, "documents"))
    Bpe.learn(words, numMerges = 4)
      .toDF("rank", "left_sym", "right_sym", "pair_freq")
      .orderBy("rank")
  }

  /** Corpus token accounting under a LEARNED 8-merge tokenizer — per
    * source: documents, whitespace words, BPE tokens, from the map-only
    * count kernel (`Bpe.docCounts`). Documents without a word count
    * toward no source, as in the oracle's word explode. */
  private def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = Bpe.learn(materializedWords(docs), numMerges = 8)
    Bpe.docCounts(docs, "text", Seq("doc_id", "source"), merges)
      .filter(col("n_words") > 0)
      .groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"),
        // a group holds at least one document with a word, so the sum
        // is never null; the tag keeps the schema `count` gave n_words
        Bridge.column(KnownNotNull(Bridge.expression(sum("n_words"))))
          .as("n_words"),
        sum("n_tokens").as("n_tokens"))
      .orderBy("source")
  }

  /** Cluster-BALANCED sampling — the embedding-space sibling of the
    * per-source caps (`Mixture.tokenBudget`): assign every vector to
    * its md5-seeded cluster (the fused `NearestList` kernel, map-only)
    * and keep the first 50 per cluster in md5-priority order — the
    * "cap each semantic region" move of SemDeDup-style data pruning
    * and DoReMi-style balancing, as a deterministic engine-neutral
    * subset. ONE window exchange on list_id; a cluster skewed past a
    * single sort task switches to the Md5BucketHi decomposition
    * exactly as `tokenBudgetSalted` documents. */
  private def qClusterSample(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val seeds = Kmeans.md5Seeds(e, "vec_id", "embedding", k = 4)
    val asg = graft.similarity.Ivf.assignTo(
      e.select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
        .filter(col("embedding").isNotNull),
      seeds, "vec_id", "embedding")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("list_id")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    asg.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 50)
      .select(col("list_id"), col("vec_id"))
      .orderBy("list_id", "vec_id")
  }

  /** The learned vocabulary as a shippable artifact: every symbol the
    * 6-merge tokenizer can emit, with its corpus frequency — what a
    * tokenizer.json/vocab file contains. Tokenize the vocab-scale word
    * table once, explode its symbols weighted by word frequency, one
    * small aggregation. Deterministic (count DESC, symbol ASC). */
  private def qBpeVocab(s: SparkSession, dir: String): DataFrame = {
    val words = materializedWords(t(s, dir, "documents"))
    val merges = Bpe.learn(words, numMerges = 6)
    words
      .select(explode(Bpe.tokensCol(col("word"), merges)).as("symbol"),
        col("freq"))
      .groupBy("symbol").agg(sum("freq").as("sym_freq"))
      .orderBy(desc("sym_freq"), asc("symbol"))
  }

  /** The learned 8-merge tokenizer + its collected id table, shared by
    * the id gates here and in QueriesExt16: alphabet + merges rows —
    * driver-sized by construction. The word table is materialized once
    * per invocation: the learn loop's two driver actions and the
    * id-table collect all consult it. */
  private[graft] def learnedIds(s: SparkSession, dir: String)
      : (DataFrame, Seq[Bpe.Merge], Seq[(String, Long)]) = {
    val docs = t(s, dir, "documents")
    val words = materializedWords(docs)
    val merges = Bpe.learn(words, numMerges = 8)
    val idRows = Bpe.vocabIds(words, merges)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    (docs, merges, idRows)
  }

  /** Per-document token-ID sequences (r14): the actual trainer input —
    * every token of every word of a deterministic 1-in-199 document
    * subset, in document order, with its engine-neutral vocabulary id
    * (`Bpe.vocabIds`: base alphabet in binary order, then one id per
    * merge rank). Long format (doc_id, word_pos, tok_pos, token_id) so
    * the oracle compares exact sequences, not a hash of arrays. */
  private def qBpeTokenIds(s: SparkSession, dir: String): DataFrame = {
    val (docs, merges, idRows) = learnedIds(s, dir)
    Bpe.docTokenIdRows(docs.filter(col("doc_id") % 199 === 7),
        "text", Seq("doc_id"), merges, idRows)
      // the kernel's ids are never null; the tag keeps the schema the
      // id table's `min` aggregate gave token_id
      .withColumn("token_id",
        Bridge.column(KnownNullable(Bridge.expression(col("token_id")))))
      .orderBy("doc_id", "word_pos", "tok_pos")
  }

  /** The FULL-corpus id-emission gate (r14): q_bpe_token_ids proves
    * exact sequences on a subset; this proves the whole corpus went
    * through the same id pipeline — per source, token count, Σ id and
    * the order-sensitive Σ id·(word_pos+1). */
  private def qBpeIdsChecksum(s: SparkSession, dir: String): DataFrame = {
    val (docs, merges, idRows) = learnedIds(s, dir)
    Bpe.docTokenIdRows(docs, "text", Seq("doc_id", "source"), merges, idRows)
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("token_id")).as("id_sum"),
        sum(col("token_id") * (col("word_pos") + 1)).as("pos_sum"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kmeans_iter_oracle" -> (qKmeansIterOracle(_, _)),
    "q_cluster_sample" -> (qClusterSample(_, _)),
    "q_bpe_pairs" -> (qBpePairs(_, _)),
    "q_bpe_learn_oracle" -> (qBpeLearnOracle(_, _)),
    "q_bpe_vocab" -> (qBpeVocab(_, _)),
    "q_bpe_encode" -> (qBpeEncode(_, _)),
    "q_bpe_token_ids" -> (qBpeTokenIds(_, _)),
    "q_bpe_ids_checksum" -> (qBpeIdsChecksum(_, _)))

  // ------------------------------------------------------- oracle SQL

  /** The word-frequency CTE (same filters as `Bpe.wordFreq`). */
  private val bpeWf: String =
    s"""WITH wf AS MATERIALIZED (SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(${TF.tokensOracleSql("text")}) AS w FROM documents)
      |  WHERE position(chr(1) IN w) = 0 GROUP BY w)""".stripMargin

  /** wf + w0 prologue shared by the BPE merge oracles: word frequency
    * plus the wrapped symbol string (`Bpe.wrapCol`). */
  private def bpeProlog(carryWord: Boolean): String = {
    val wc = if (carryWord) "word, " else ""
    bpeWf +
      s""",
         |w0 AS MATERIALIZED (SELECT ${wc}chr(1) || array_to_string(list_transform(range(1, length(word)+1), i -> word[i]), chr(1)||chr(1)) || chr(1) AS sw, freq FROM wf)""".stripMargin
  }

  /** Merge steps 1..k: p_i (adjacent symbol pairs of w_{i-1}), m_i
    * (the argmax pair), w_i (the boundary-safe replace) — the SQL form
    * of one `Bpe.learnDistributed` loop round. */
  private def bpeMergeSteps(k: Int, carryWord: Boolean): String = {
    val wc = if (carryWord) "word, " else ""
    (1 to k).map { i =>
      s""",
         |p$i AS (SELECT syms[i] AS l, syms[i+1] AS r, freq FROM
         |  (SELECT unnest(range(1, len(syms))) AS i, syms, freq FROM
         |    (SELECT string_split(sw[2:length(sw)-1], chr(1)||chr(1)) AS syms, freq FROM w${i - 1}))),
         |m$i AS MATERIALIZED (SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM p$i GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 1),
         |w$i AS MATERIALIZED (SELECT ${wc}replace(sw, chr(1)||m.l||chr(1)||chr(1)||m.r||chr(1), chr(1)||m.l||m.r||chr(1)) AS sw, freq FROM w${i - 1} CROSS JOIN m$i m)""".stripMargin
    }.mkString
  }

  /** The id-pipeline CTE tail shared by the two r14 token-id oracles:
    * w8's tokenized vocab, the engine-neutral id table (base alphabet
    * by binary order via ROW_NUMBER, merge k → nBase+k−1, min-id on
    * string collisions — `Bpe.vocabIds` verbatim), the positioned
    * word explode (generate_subscripts is 1-based; the Spark side's
    * posexplode is 0-based, hence the −1s at projection), and the
    * per-word token explode. `docFilter` scopes the corpus side
    * (the subset gate filters; the checksum gate runs the corpus). */
  private[graft] def bpeIdsCtes(docFilter: String): String =
    bpeProlog(carryWord = true) + bpeMergeSteps(8, carryWord = true) +
      s""",
         |tokv AS MATERIALIZED (SELECT word, string_split(sw[2:length(sw)-1], chr(1)||chr(1)) AS toks FROM w8),
         |base AS MATERIALIZED (SELECT DISTINCT word[i] AS token FROM
         |  (SELECT unnest(range(1, length(word)+1)) AS i, word FROM wf)),
         |vocab AS MATERIALIZED (SELECT token, CAST(min(token_id) AS BIGINT) AS token_id FROM (
         |    SELECT token, ROW_NUMBER() OVER (ORDER BY token) - 1 AS token_id FROM base
         |    UNION ALL
         |    SELECT l || r AS token, (SELECT count(*) FROM base) + rank - 1 AS token_id
         |    FROM (${(1 to 8).map(i => s"SELECT $i AS rank, l, r FROM m$i").mkString(" UNION ALL ")})
         |  ) GROUP BY token),
         |dw2 AS (SELECT doc_id, source, wp1, w FROM
         |  (SELECT doc_id, source, generate_subscripts(ws, 1) AS wp1, unnest(ws) AS w FROM
         |    (SELECT doc_id, source, ${TF.tokensOracleSql("text")} AS ws FROM documents$docFilter))
         |  WHERE position(chr(1) IN w) = 0),
         |tkn AS (SELECT doc_id, source, wp1, generate_subscripts(toks, 1) AS tp1, unnest(toks) AS token FROM
         |  (SELECT dw2.doc_id, dw2.source, dw2.wp1, tokv.toks FROM dw2 JOIN tokv ON dw2.w = tokv.word))""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_bpe_token_ids" ->
      (bpeIdsCtes(" WHERE doc_id % 199 = 7") +
        """
          |SELECT t.doc_id, t.wp1 - 1 AS word_pos, t.tp1 - 1 AS tok_pos, v.token_id
          |FROM tkn t JOIN vocab v ON t.token = v.token
          |ORDER BY doc_id, word_pos, tok_pos""".stripMargin),
    "q_bpe_ids_checksum" ->
      (bpeIdsCtes("") +
        """
          |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
          |  CAST(sum(v.token_id) AS BIGINT) AS id_sum,
          |  CAST(sum(v.token_id * t.wp1) AS BIGINT) AS pos_sum
          |FROM tkn t JOIN vocab v ON t.token = v.token
          |GROUP BY source ORDER BY source""".stripMargin),
    "q_kmeans_iter_oracle" ->
      // Mirrors Kmeans.md5Seeds + Kmeans.updateStats: the md5-rank seed
      // pick and dot−‖c‖²/2 argmax assignment are q_ann_ivf_oracle's
      // exact idiom (Ivf.assignTo is the shared code path); the mean is
      // avg over doubles, rounded 6dp on both engines.
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
        |sd AS (SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS list_id,
        |         v AS c FROM e),
        |seeds AS (SELECT list_id, c FROM sd WHERE list_id < 4),
        |asg AS (SELECT vec_id, v, list_id FROM (
        |    SELECT e.vec_id, e.v, s.list_id,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY (list_dot_product(e.v, s.c) - list_dot_product(s.c, s.c) / 2) DESC,
        |                 s.list_id) AS rn
        |    FROM e CROSS JOIN seeds s) WHERE rn = 1),
        |ctr AS (SELECT list_id, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x FROM asg)
        |SELECT list_id, pos, CAST(count(*) AS BIGINT) AS n, round(avg(x), 6) AS centroid
        |FROM ctr GROUP BY list_id, pos ORDER BY list_id, pos""".stripMargin,
    "q_cluster_sample" ->
      // the q_kmeans_iter_oracle assignment CTEs + a per-cluster
      // md5-priority cap (ROW_NUMBER <= 50)
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
        |sd AS (SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS list_id,
        |         v AS c FROM e),
        |seeds AS (SELECT list_id, c FROM sd WHERE list_id < 4),
        |asg AS (SELECT vec_id, list_id FROM (
        |    SELECT e.vec_id, s.list_id,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY (list_dot_product(e.v, s.c) - list_dot_product(s.c, s.c) / 2) DESC,
        |                 s.list_id) AS rn
        |    FROM e CROSS JOIN seeds s) WHERE rn = 1),
        |capped AS (SELECT list_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY list_id
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |  FROM asg)
        |SELECT list_id, vec_id FROM capped WHERE rn <= 50
        |ORDER BY list_id, vec_id""".stripMargin,
    "q_bpe_pairs" ->
      (bpeWf +
        """
          |SELECT word[i] AS left_sym, word[i+1] AS right_sym,
          |  CAST(sum(freq) AS BIGINT) AS pair_freq
          |FROM (SELECT unnest(range(1, length(word))) AS i, word, freq FROM wf)
          |GROUP BY left_sym, right_sym
          |ORDER BY pair_freq DESC, left_sym, right_sym LIMIT 20""".stripMargin),
    "q_bpe_vocab" ->
      (bpeProlog(carryWord = false) + bpeMergeSteps(6, carryWord = false) +
        """
          |SELECT sym AS symbol, CAST(sum(freq) AS BIGINT) AS sym_freq
          |FROM (SELECT unnest(string_split(sw[2:length(sw)-1], chr(1)||chr(1))) AS sym, freq FROM w6)
          |GROUP BY sym ORDER BY sym_freq DESC, symbol""".stripMargin),
    "q_bpe_learn_oracle" ->
      (bpeProlog(carryWord = false) + bpeMergeSteps(4, carryWord = false) + "\n" +
        (1 to 4).map(i =>
          s"SELECT $i AS rank, l AS left_sym, r AS right_sym, cnt AS pair_freq FROM m$i")
          .mkString(" UNION ALL ") + " ORDER BY rank"),
    "q_bpe_encode" ->
      (bpeProlog(carryWord = true) + bpeMergeSteps(8, carryWord = true) +
        s""",
          |tok AS (SELECT word, CAST(len(string_split(sw[2:length(sw)-1], chr(1)||chr(1))) AS BIGINT) AS n_tok FROM w8),
          |dw AS (SELECT doc_id, source, w FROM
          |  (SELECT doc_id, source, unnest(${TF.tokensOracleSql("text")}) AS w FROM documents)
          |  WHERE position(chr(1) IN w) = 0)
          |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          |  CAST(count(*) AS BIGINT) AS n_words, CAST(sum(n_tok) AS BIGINT) AS n_tokens
          |FROM dw JOIN tok ON dw.w = tok.word GROUP BY source ORDER BY source""".stripMargin))
}
