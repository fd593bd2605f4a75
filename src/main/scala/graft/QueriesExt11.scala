package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.similarity.{Ivf, IvfPq, Knn, Pq}
import graft.functions.{TextFunctions => TF}

/** Round-6 continuation: the two retrieval patterns of the hybrid /
  * multi-vector search APIs the reference moves data between —
  * Pinecone sparse-dense vectors (`pinecone_export.py:233-234,460-461`)
  * and Qdrant sparse/multi-vector configs (`qdrant_import.py:215-243`)
  * exist precisely so a collection can serve lexical+dense hybrid
  * queries and late-interaction scoring after import. Both are
  * expressed over the engine's existing oracle-gated legs, so the
  * whole fused pipeline sits behind the DuckDB hash-match gate.
  *
  *  - q_hybrid_rrf: reciprocal-rank fusion (Cormack, Clarke &
  *                  Büttcher, SIGIR'09) of the BM25 lexical top-10 and
  *                  the dense cosine top-10 per query
  *  - q_maxsim:     ColBERT late-interaction MaxSim (Khattab &
  *                  Zaharia, SIGIR'20): Σ_q max_d ⟨q,d⟩ over
  *                  token-level vectors
  */
object QueriesExt11 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    QueriesCommon.table(s, dir, name)

  /** Hybrid retrieval, RRF k=60: the lexical leg is EXACTLY q_bm25's
    * top-10 (probe docs 0-4 as queries); the dense leg is brute-force
    * cosine top-10 for the same query ids over the embeddings table
    * (doc_id ≡ vec_id in the testdata star). Each leg is ranked by its
    * own rounded score with doc-id tie-break, fused by
    * Σ 1/(60+rank) over the legs that returned the doc, and the fused
    * top-10 per query survives.
    *
    * Shape: both legs end as k·|Q| rows (tiny by construction — top-k
    * outputs), so the fusion join and final rank are driver-scale no
    * matter the corpus size; all the data-scale work happens inside
    * the legs, which keep their own documented 100 TB shapes (BM25's
    * probe-vocab semi-join + single token exchange; brute cosine's
    * broadcast-queries × partition-parallel candidate scan, or an ANN
    * leg swapped in unchanged). This is the fusion layout Pinecone/
    * Weaviate run server-side for sparse-dense queries. */
  private def qHybridRrf(s: SparkSession, dir: String): DataFrame = {
    val lex = QueriesExt6.bm25Scores(s, dir) // (query_id, doc_id, bm25≈6dp)
      .withColumn("lex_rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val dense = Knn.bruteForceTopK(q, e.select("vec_id", "embedding"), 10)
      .withColumn("dense_rank", row_number().over(
        Window.partitionBy("q_id")
          .orderBy(round(col("sim"), 6).desc, col("vec_id"))))
      .select(col("q_id").as("query_id"), col("vec_id").as("doc_id"),
        col("dense_rank"))
    lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("dense_rank")), lit(0.0)))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(round(col("rrf"), 9).desc, col("doc_id"))))
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("doc_id"), col("lex_rank"),
        col("dense_rank"), round(col("rrf"), 9).as("rrf"))
      .orderBy("query_id", "doc_id")
  }

  /** ColBERT MaxSim over pseudo multi-vector docs: token vectors are
    * the embeddings grouped 8-per-document (vec_id DIV 8 — the
    * testdata analogue of Qdrant's multivector points), query docs 0-1,
    * score(q,d) = Σ_{qt∈q} max_{dt∈d} ⟨qt,dt⟩, top-5 docs per query.
    *
    * Shape: the query token set is broadcast (|Q|·8 vectors); the
    * candidate token scan stays partition-parallel and the token-pair
    * dot products collapse map-side into ONE exchange on
    * (q_doc, doc): the per-query-token max is a SLOT PIVOT — the 8
    * fixed token slots (q_tok mod 8) become 8 conditional max
    * aggregates, and score = their sum — so the inner max and the
    * outer sum fold into a single partial-aggregated hash agg (the r6
    * form re-shuffled on (q_doc, q_tok, doc) and again on
    * (q_doc, doc)). By the exchange a row per (query, candidate)
    * remains — |Q|·|docs|, index scale, not corpus scale. At 100 TB
    * the candidate stream is what an ANN/IVF pass emitted (the
    * documented prune), so the per-candidate cost is
    * |q_toks|·|d_toks| dots — the late-interaction contract. */
  private def qMaxsim(s: SparkSession, dir: String): DataFrame = {
    val tok = t(s, dir, "embeddings")
      .select(expr("vec_id DIV 8").as("doc"), col("vec_id"),
        col("embedding"))
    val qtok = tok.filter(col("doc") < 2)
      .select(col("doc").as("q_doc"), col("vec_id").as("q_tok"),
        col("embedding").as("q_vec"))
    // coalesce(max, 0): a query doc missing a mod-8 slot contributes 0
    // to the sum-of-maxes instead of nulling the whole score. The slot
    // pivot additionally REQUIRES one token per slot (duplicates would
    // collapse into one max) — guaranteed here because q_toks are the 8
    // consecutive vec_ids of each query doc, so q_tok mod 8 is a
    // bijection onto 0..7 per doc.
    val slotMax = (0 until 8).map(k =>
      coalesce(max(when(pmod(col("q_tok"), lit(8)) === k, col("d"))), lit(0d)))
    tok.join(broadcast(qtok), col("doc") =!= col("q_doc"))
      .withColumn("d",
        graft.functions.VectorFunctions.dotProduct(col("q_vec"), col("embedding")))
      .groupBy("q_doc", "doc").agg(slotMax.reduce(_ + _).as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_doc")
          .orderBy(round(col("score"), 6).desc, col("doc"))))
      .filter(col("rn") <= 5)
      .select(col("q_doc"), col("doc"), round(col("score"), 6).as("maxsim"))
      .orderBy("q_doc", "doc")
  }

  /** IVF-PQ with md5-seeded coarse lists AND codebooks — the third leg
    * of the oracle-gated ANN trio (q_ann_ivf_oracle/q_ann_pq_oracle):
    * the COMPOSED route — coarse assignment, l2-ranked nprobe pruning,
    * in-list ADC scoring — hash-matched end to end. Production stays
    * `q_ann_ivfpq` (k-means, recall-gated); every non-training stage
    * here is the identical code path (`Ivf.assign`, `Pq.encodeExpr`,
    * `IvfPq.search`). */
  private def qAnnIvfPqOracle(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val ivf = Ivf.buildMd5Seeded(e, "vec_id", "embedding", nlist = 8)
    val pq = Pq.buildMd5Seeded(ivf.assigned, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16)
    val index = IvfPq.IvfPqIndex(ivf.centroids, pq.codebooks, pq.dsub,
      pq.encoded, "vec_id", "embedding")
    val mat = index.copy(encoded = QueriesExt4.matEncoded(index.encoded))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    IvfPq.search(mat, q, k = 5, nprobe = 2)
      .withColumn("adc", round(col("adc"), 6))
      .orderBy("q_id", "vec_id")
  }

  /** IVF-PQ with RESIDUAL encoding (FAISS IVFADC) under md5-seeded
    * coarse lists AND codebooks — the fourth leg of the oracle-gated
    * ANN family: what the codes quantize is `v − c_list`, the
    * codebooks are sub-slices of md5-ranked corpus RESIDUALS
    * (float-rounded exactly as the trained build stores them), and
    * scoring uses one distance table per (query, probed list) against
    * the query's residual in that list's frame. Every non-training
    * stage — `Ivf.assign`, `IvfPq.residualExpr`, `Pq.encodeExpr`, the
    * per-pair dtables, `Pq.adcExpr` — is the identical code path the
    * production `q_ann_ivfpq` (k-means residual build) runs. */
  private def qAnnIvfPqResOracle(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val index = IvfPq.buildResidualMd5Seeded(e, "vec_id", "embedding",
      dim = 64, nlist = 8, m = 8, ksub = 16)
    val mat = index.copy(encoded = QueriesExt4.matEncoded(index.encoded))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    IvfPq.search(mat, q, k = 5, nprobe = 2)
      .withColumn("adc", round(col("adc"), 6))
      .orderBy("q_id", "vec_id")
  }

  /** The REFINED route (FAISS `refine`, round-9 ask): IVFADC at
    * k·rerank, then exact-distance re-ranking of that candidate pool
    * against the raw vectors — `IvfPq.searchRerank` under the same
    * md5-seeded residual build as q_ann_ivfpq_res_oracle, so the
    * composed ADC→refine route (coarse assignment, residual encode,
    * per-(q,list) dtables, ADC top-20, exact l2 re-rank to top-5) is
    * hash-matched end to end. Production recall impact is measured in
    * RecallEval (recall_r9_sf01.txt). */
  private def qAnnIvfPqRerankOracle(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val index = IvfPq.buildResidualMd5Seeded(e, "vec_id", "embedding",
      dim = 64, nlist = 8, m = 8, ksub = 16)
    val mat = index.copy(encoded = QueriesExt4.matEncoded(index.encoded))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // default rerank = the scale-aware pool (R = max(4k, ceil(n·nprobe
    // /(6·nlist)))); the oracle SQL reproduces the same integer
    // arithmetic in its rsz CTE
    IvfPq.searchRerank(mat, q, k = 5, nprobe = 2)
      .withColumn("exact", round(col("exact"), 6))
      .orderBy("q_id", "vec_id")
  }

  /** Metadata-filtered ANN (`Ivf.searchWhere`): cosine top-5 among
    * even-labeled vectors only, over the md5-seeded IVF so the whole
    * filtered route — seeds, assignment, probe ranking, PRE-filtered
    * in-list scoring — sits behind the hash-match gate. Pre-filtering
    * is the semantics every vector DB's filtered query serves: the
    * top-k fills from qualifying vectors, not from an unfiltered top-k
    * that the filter then thins. */
  private def qAnnFiltered(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val index = Ivf.buildMd5Seeded(e, "vec_id", "embedding", nlist = 8)
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Ivf.searchWhere(index, q, k = 5, nprobe = 2, pmod(col("label"), lit(2)) === 0)
      .withColumn("sim", round(col("sim"), 6))
      .orderBy("q_id", "vec_id")
  }

  /** REAL audio-kernel gate (`Multimodal.pcmFeatures`): every doc gets
    * a deterministic 32-byte payload (md5(text) ‖ md5(text·'1') — full
    * byte range, so negative samples exercise the sign/zero-cross
    * logic), the batched mapPartitions kernel parses it as 16-bit LE
    * PCM and emits integer-exact features (Σs² in a Long → the double
    * RMS is bit-stable), and DuckDB rebuilds the identical samples
    * from the md5 hex string. The decode CONTRACT is what's gated —
    * compressed codecs stay stubbed (no codec libs in-env), raw PCM
    * is real compute. */
  private def qAudioFeatures(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "documents").select(col("doc_id"),
      concat(unhex(md5(col("text"))),
        unhex(md5(concat(col("text"), lit("1"))))).as("payload"))
    graft.multimodal.Multimodal.pcmFeatures(m, "payload", batchSize = 64)
      .select(col("doc_id"), col("n_samples"),
        round(col("rms"), 6).as("rms"), col("n_zero_cross"), col("peak"))
      .orderBy("doc_id")
  }

  /** REAL image-kernel gate (`Multimodal.rgbFeatures`): a 48-byte
    * md5-derived payload stands in for a decoded 4×4 RGB888 frame;
    * the kernel computes per-channel means and BT.601 luminance with
    * integer-per-mille weights (every sum a Long → the double means
    * are bit-stable), and DuckDB rebuilds the identical bytes. Same
    * contract split as q_audio_features: raw-format compute is real,
    * compressed codecs stay stubbed. */
  private def qImageFeatures(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "documents").select(col("doc_id"),
      concat(unhex(md5(col("text"))),
        unhex(md5(concat(col("text"), lit("1")))),
        unhex(md5(concat(col("text"), lit("2"))))).as("payload"))
    graft.multimodal.Multimodal.rgbFeatures(m, "payload",
        width = 4, height = 4, batchSize = 64)
      .select(col("doc_id"), round(col("r_mean"), 6).as("r_mean"),
        round(col("g_mean"), 6).as("g_mean"),
        round(col("b_mean"), 6).as("b_mean"),
        round(col("lum_mean_pm"), 6).as("lum_mean_pm"), col("lum_max_pm"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hybrid_rrf" -> (qHybridRrf(_, _)),
    "q_maxsim" -> (qMaxsim(_, _)),
    "q_ann_ivfpq_oracle" -> (qAnnIvfPqOracle(_, _)),
    "q_ann_ivfpq_res_oracle" -> (qAnnIvfPqResOracle(_, _)),
    "q_ann_ivfpq_rerank_oracle" -> (qAnnIvfPqRerankOracle(_, _)),
    "q_ann_filtered" -> (qAnnFiltered(_, _)),
    "q_audio_features" -> (qAudioFeatures(_, _)),
    "q_image_features" -> (qImageFeatures(_, _)))

  /** Shared CTE chain of the md5-seeded RESIDUAL (IVFADC) route,
    * ending in `adc(q_id, vec_id, adc)` — used by
    * q_ann_ivfpq_res_oracle (ADC top-5) and q_ann_ivfpq_rerank_oracle
    * (ADC top-20 → exact-l2 refine to top-5) so both gates pin ONE
    * construction. */
  private val ivfPqResCtes: String =
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |isd AS (SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS list_id,
        |          v AS c FROM e),
        |iseeds AS (SELECT list_id, c FROM isd WHERE list_id < 8),
        |asg AS (SELECT vec_id, v, list_id, c FROM (
        |    SELECT e.vec_id, e.v, s.list_id, s.c,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY (list_dot_product(e.v, s.c) - list_dot_product(s.c, s.c) / 2) DESC,
        |                 s.list_id) AS rn
        |    FROM e CROSS JOIN iseeds s)
        |  WHERE rn = 1),
        |rsd AS (SELECT vec_id, list_id,
        |    list_transform(range(1, 65), j -> v[j] - c[j]) AS rv
        |  FROM asg),
        |sd AS (SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code,
        |         list_transform(rv, x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS c
        |       FROM rsd),
        |cb AS (SELECT code, c FROM sd WHERE code < 16),
        |sp AS (SELECT unnest(range(8)) AS s),
        |dpre AS (SELECT r.vec_id, sp.s, cb.code,
        |    list_transform(range(1, 9), j -> r.rv[sp.s * 8 + j] - cb.c[sp.s * 8 + j]) AS d
        |  FROM rsd r CROSS JOIN sp CROSS JOIN cb),
        |dist AS (SELECT vec_id, s, code, list_dot_product(d, d) AS dd FROM dpre),
        |codes AS (SELECT vec_id, s, code FROM (
        |    SELECT vec_id, s, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dd ASC, code ASC) AS rn
        |    FROM dist)
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
        |ppre AS (SELECT q.q_id, s.list_id,
        |    list_transform(range(1, 65), j -> q.qv[j] - s.c[j]) AS d
        |  FROM q CROSS JOIN iseeds s),
        |pr AS (SELECT q_id, list_id, d AS qres FROM (
        |    SELECT q_id, list_id, d,
        |      ROW_NUMBER() OVER (PARTITION BY q_id
        |        ORDER BY list_dot_product(d, d) ASC, list_id) AS rn
        |    FROM ppre)
        |  WHERE rn <= 2),
        |qpre AS (SELECT pr.q_id, pr.list_id, sp.s, cb.code,
        |    list_transform(range(1, 9), j -> pr.qres[sp.s * 8 + j] - cb.c[sp.s * 8 + j]) AS d
        |  FROM pr CROSS JOIN sp CROSS JOIN cb),
        |qt AS (SELECT q_id, list_id, s, code, list_dot_product(d, d) AS dd FROM qpre),
        |parts AS (SELECT pr.q_id, c2.vec_id, qt.s, qt.dd
        |  FROM codes c2
        |  JOIN rsd a ON a.vec_id = c2.vec_id
        |  JOIN pr ON pr.list_id = a.list_id
        |  JOIN qt ON qt.q_id = pr.q_id AND qt.list_id = pr.list_id
        |         AND qt.s = c2.s AND qt.code = c2.code
        |  WHERE c2.vec_id <> pr.q_id),
        |adc AS (SELECT q_id, vec_id,
        |    min(CASE WHEN s = 0 THEN dd END) + min(CASE WHEN s = 1 THEN dd END)
        |  + min(CASE WHEN s = 2 THEN dd END) + min(CASE WHEN s = 3 THEN dd END)
        |  + min(CASE WHEN s = 4 THEN dd END) + min(CASE WHEN s = 5 THEN dd END)
        |  + min(CASE WHEN s = 6 THEN dd END) + min(CASE WHEN s = 7 THEN dd END) AS adc
        |  FROM parts GROUP BY q_id, vec_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // The lexical CTEs are q_bm25's oracle verbatim (same rounding and
    // tie-breaks); the dense CTEs are q_cosine_topk's form at k=10 for
    // query ids < 5; fusion = 1/(60+rank) summed over present legs.
    "q_hybrid_rrf" ->
      s"""WITH tok AS (SELECT doc_id, unnest(
        |    ${TF.tokensOracleSql("lower(text)")}) AS tok
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
        |stats AS (SELECT count(*) AS n,
        |    avg(COALESCE(dl.dl, 0)) AS avgdl
        |  FROM documents LEFT JOIN dl USING (doc_id)),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |qq AS (SELECT DISTINCT doc_id AS query_id, tok FROM tok
        |      WHERE doc_id < 5),
        |scores AS (SELECT qq.query_id, tf.doc_id,
        |    sum(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1)
        |        * tf.tf * 2.2
        |        / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))) AS score
        |  FROM qq JOIN tf ON qq.tok = tf.tok
        |  JOIN df ON tf.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN stats
        |  GROUP BY 1, 2),
        |lex AS (SELECT query_id, doc_id, row_number() OVER (
        |    PARTITION BY query_id
        |    ORDER BY round(score, 6) DESC, doc_id) AS lex_rank
        |  FROM scores QUALIFY lex_rank <= 10),
        |qv AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        |       FROM embeddings WHERE vec_id < 5),
        |ds AS (SELECT q_id, e.vec_id,
        |    list_dot_product(qv, e.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(qv, qv)) *
        |     sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS sim
        |  FROM qv, embeddings e WHERE e.vec_id <> q_id),
        |dense AS (SELECT q_id AS query_id, vec_id AS doc_id,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY round(sim, 6) DESC, vec_id) AS dense_rank
        |  FROM ds QUALIFY dense_rank <= 10),
        |fused AS (SELECT COALESCE(lex.query_id, dense.query_id) AS query_id,
        |    COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
        |    lex.lex_rank, dense.dense_rank,
        |    COALESCE(1.0 / (60.0 + lex.lex_rank), 0) +
        |    COALESCE(1.0 / (60.0 + dense.dense_rank), 0) AS rrf
        |  FROM lex FULL OUTER JOIN dense
        |    ON lex.query_id = dense.query_id AND lex.doc_id = dense.doc_id),
        |r AS (SELECT query_id, doc_id, lex_rank, dense_rank, rrf,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(rrf, 9) DESC, doc_id) AS rn FROM fused)
        |SELECT query_id, doc_id, lex_rank, dense_rank,
        |  round(rrf, 9) AS rrf
        |FROM r WHERE rn <= 10
        |ORDER BY query_id, doc_id""".stripMargin,
    "q_maxsim" ->
      """WITH tok AS (SELECT vec_id // 8 AS doc, vec_id,
        |    embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT doc AS q_doc, vec_id AS q_tok, v AS qv
        |      FROM tok WHERE doc < 2),
        |mx AS (SELECT q.q_doc, q.q_tok, t.doc,
        |    max(list_dot_product(q.qv, t.v)) AS m
        |  FROM q JOIN tok t ON t.doc <> q.q_doc
        |  GROUP BY 1, 2, 3),
        |sc AS (SELECT q_doc, doc, sum(m) AS score
        |  FROM mx GROUP BY 1, 2),
        |r AS (SELECT q_doc, doc, score, row_number() OVER (
        |    PARTITION BY q_doc
        |    ORDER BY round(score, 6) DESC, doc) AS rn FROM sc)
        |SELECT q_doc, doc, round(score, 6) AS maxsim
        |FROM r WHERE rn <= 5
        |ORDER BY q_doc, doc""".stripMargin,
    // q_ann_ivf_oracle's CTE chain with the candidate PRE-filter of
    // Ivf.searchWhere: the index (seeds, assignment) is built over the
    // FULL corpus, the predicate prunes candidates at scoring time
    // (sc), and the top-5 fills from qualifying vectors only.
    "q_ann_filtered" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |sd AS (SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS list_id,
        |         v AS c FROM e),
        |seeds AS (SELECT list_id, c FROM sd WHERE list_id < 8),
        |asg AS (SELECT vec_id, label, v, list_id FROM (
        |    SELECT e.vec_id, e.label, e.v, s.list_id,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY (list_dot_product(e.v, s.c) - list_dot_product(s.c, s.c) / 2) DESC,
        |                 s.list_id) AS rn
        |    FROM e CROSS JOIN seeds s)
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
        |pr AS (SELECT q_id, qv, list_id FROM (
        |    SELECT q.q_id, q.qv, s.list_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.q_id
        |        ORDER BY (-list_dot_product(q.qv, s.c) / sqrt(list_dot_product(s.c, s.c))) ASC NULLS LAST,
        |                 s.list_id) AS rn
        |    FROM q CROSS JOIN seeds s)
        |  WHERE rn <= 2),
        |sc AS (SELECT pr.q_id, a.vec_id,
        |    list_dot_product(pr.qv, a.v) /
        |      (sqrt(list_dot_product(pr.qv, pr.qv)) * sqrt(list_dot_product(a.v, a.v))) AS sim
        |  FROM pr JOIN asg a ON pr.list_id = a.list_id AND a.vec_id <> pr.q_id
        |  WHERE a.label % 2 = 0),
        |r AS (SELECT q_id, vec_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM sc)
        |SELECT q_id, vec_id, round(sim, 6) AS sim FROM r WHERE rn <= 5
        |ORDER BY q_id, vec_id""".stripMargin,
    // Rebuilds pcmFeatures' samples from the md5 hex strings: byte k
    // of the 32-byte payload is hex pair (2k, 2k+1); LE sample i is
    // byte 2i | byte 2i+1 << 8, sign-adjusted at 32768. Σs² stays in
    // BIGINT (exact), so the double sqrt matches Spark's bit-for-bit;
    // zero-cross counts STRICT sign flips like the kernel.
    "q_audio_features" ->
      """WITH h AS (SELECT doc_id, md5(text) || md5(text || '1') AS hx
        |  FROM documents),
        |b AS (SELECT doc_id, list_transform(range(0, 32), k ->
        |    (instr('0123456789abcdef', substr(hx, 2 * k + 1, 1)) - 1) * 16 +
        |    (instr('0123456789abcdef', substr(hx, 2 * k + 2, 1)) - 1)) AS bytes
        |  FROM h),
        |smp AS (SELECT doc_id, list_transform(range(0, 16), i ->
        |    CASE WHEN bytes[2 * i + 1] + 256 * bytes[2 * i + 2] >= 32768
        |         THEN bytes[2 * i + 1] + 256 * bytes[2 * i + 2] - 65536
        |         ELSE bytes[2 * i + 1] + 256 * bytes[2 * i + 2] END) AS s
        |  FROM b)
        |SELECT doc_id, CAST(16 AS BIGINT) AS n_samples,
        |  round(sqrt(CAST(list_sum(list_transform(s, x -> x * x)) AS DOUBLE) / 16), 6) AS rms,
        |  CAST(len(list_filter(range(2, 17), i -> s[i] * s[i - 1] < 0)) AS BIGINT) AS n_zero_cross,
        |  CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak
        |FROM smp ORDER BY doc_id""".stripMargin,
    // Rebuilds rgbFeatures' bytes from three md5 hex rounds: pixel i's
    // channels are bytes (3i, 3i+1, 3i+2); luminance uses the same
    // integer per-mille BT.601 weights, so all sums are BIGINT-exact.
    "q_image_features" ->
      """WITH h AS (SELECT doc_id,
        |    md5(text) || md5(text || '1') || md5(text || '2') AS hx
        |  FROM documents),
        |b AS (SELECT doc_id, list_transform(range(0, 48), k ->
        |    (instr('0123456789abcdef', substr(hx, 2 * k + 1, 1)) - 1) * 16 +
        |    (instr('0123456789abcdef', substr(hx, 2 * k + 2, 1)) - 1)) AS bytes
        |  FROM h),
        |px AS (SELECT doc_id,
        |    list_transform(range(0, 16), i -> bytes[3 * i + 1]) AS r,
        |    list_transform(range(0, 16), i -> bytes[3 * i + 2]) AS g,
        |    list_transform(range(0, 16), i -> bytes[3 * i + 3]) AS bl,
        |    list_transform(range(0, 16), i ->
        |      299 * bytes[3 * i + 1] + 587 * bytes[3 * i + 2] +
        |      114 * bytes[3 * i + 3]) AS lum
        |  FROM b)
        |SELECT doc_id,
        |  round(CAST(list_sum(r) AS DOUBLE) / 16, 6) AS r_mean,
        |  round(CAST(list_sum(g) AS DOUBLE) / 16, 6) AS g_mean,
        |  round(CAST(list_sum(bl) AS DOUBLE) / 16, 6) AS b_mean,
        |  round(CAST(list_sum(lum) AS DOUBLE) / 16, 6) AS lum_mean_pm,
        |  CAST(list_max(lum) AS BIGINT) AS lum_max_pm
        |FROM px ORDER BY doc_id""".stripMargin,
    // Mirrors Ivf.buildMd5Seeded + Pq.buildMd5Seeded + IvfPq.search
    // step for step: coarse seeds = first 8 md5-ranked ids, assignment
    // dot(v,c)−‖c‖²/2 DESC (tie → list_id); PQ codebook = sub-slices
    // of the first 16 md5-ranked ids, codes argmin Σ(x−c)² (tie →
    // code); probe = TRUE squared L2 to the coarse centroid ASC (tie →
    // list_id), nprobe 2; ADC = the m=8 left-associative lookup sum
    // restricted to candidates whose assigned list was probed.
    "q_ann_ivfpq_oracle" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |isd AS (SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS list_id,
        |          v AS c FROM e),
        |iseeds AS (SELECT list_id, c FROM isd WHERE list_id < 8),
        |asg AS (SELECT vec_id, list_id FROM (
        |    SELECT e.vec_id, s.list_id,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY (list_dot_product(e.v, s.c) - list_dot_product(s.c, s.c) / 2) DESC,
        |                 s.list_id) AS rn
        |    FROM e CROSS JOIN iseeds s)
        |  WHERE rn = 1),
        |sd AS (SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code,
        |         v AS c FROM e),
        |cb AS (SELECT code, c FROM sd WHERE code < 16),
        |sp AS (SELECT unnest(range(8)) AS s),
        |dpre AS (SELECT e.vec_id, sp.s, cb.code,
        |    list_transform(range(1, 9), j -> e.v[sp.s * 8 + j] - cb.c[sp.s * 8 + j]) AS d
        |  FROM e CROSS JOIN sp CROSS JOIN cb),
        |dist AS (SELECT vec_id, s, code, list_dot_product(d, d) AS dd FROM dpre),
        |codes AS (SELECT vec_id, s, code FROM (
        |    SELECT vec_id, s, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dd ASC, code ASC) AS rn
        |    FROM dist)
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
        |ppre AS (SELECT q.q_id, q.qv, s.list_id,
        |    list_transform(range(1, 65), j -> q.qv[j] - s.c[j]) AS d
        |  FROM q CROSS JOIN iseeds s),
        |pr AS (SELECT q_id, qv, list_id FROM (
        |    SELECT q_id, qv, list_id,
        |      ROW_NUMBER() OVER (PARTITION BY q_id
        |        ORDER BY list_dot_product(d, d) ASC, list_id) AS rn
        |    FROM ppre)
        |  WHERE rn <= 2),
        |qpre AS (SELECT pr.q_id, sp.s, cb.code,
        |    list_transform(range(1, 9), j -> pr.qv[sp.s * 8 + j] - cb.c[sp.s * 8 + j]) AS d
        |  FROM (SELECT DISTINCT q_id, qv FROM pr) pr CROSS JOIN sp CROSS JOIN cb),
        |qt AS (SELECT q_id, s, code, list_dot_product(d, d) AS dd FROM qpre),
        |parts AS (SELECT pr.q_id, c2.vec_id, qt.s, qt.dd
        |  FROM codes c2
        |  JOIN asg a ON a.vec_id = c2.vec_id
        |  JOIN pr ON pr.list_id = a.list_id
        |  JOIN qt ON qt.q_id = pr.q_id AND qt.s = c2.s AND qt.code = c2.code
        |  WHERE c2.vec_id <> pr.q_id),
        |adc AS (SELECT q_id, vec_id,
        |    min(CASE WHEN s = 0 THEN dd END) + min(CASE WHEN s = 1 THEN dd END)
        |  + min(CASE WHEN s = 2 THEN dd END) + min(CASE WHEN s = 3 THEN dd END)
        |  + min(CASE WHEN s = 4 THEN dd END) + min(CASE WHEN s = 5 THEN dd END)
        |  + min(CASE WHEN s = 6 THEN dd END) + min(CASE WHEN s = 7 THEN dd END) AS adc
        |  FROM parts GROUP BY q_id, vec_id),
        |r AS (SELECT q_id, vec_id, adc,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc ASC, vec_id) AS rn FROM adc)
        |SELECT q_id, vec_id, round(adc, 6) AS adc FROM r WHERE rn <= 5
        |ORDER BY q_id, vec_id""".stripMargin,
    // Mirrors buildResidualMd5Seeded + the residual IvfPq.search step
    // for step. Deltas vs q_ann_ivfpq_oracle: rsd = v − c(assigned
    // list) in DOUBLE (exact in both engines); the PQ codebook is the
    // sub-slices of the first 16 md5-ranked RESIDUALS, element-wise
    // CAST to FLOAT and back (the float storage the Scala codebooks
    // live in); codes argmin runs over residuals; and the ADC tables
    // are per (query, PROBED LIST) against qres = q − c_list — the
    // IVFADC asymmetric distance.
    "q_ann_ivfpq_res_oracle" ->
      (ivfPqResCtes + """,
        |r AS (SELECT q_id, vec_id, adc,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc ASC, vec_id) AS rn FROM adc)
        |SELECT q_id, vec_id, round(adc, 6) AS adc FROM r WHERE rn <= 5
        |ORDER BY q_id, vec_id""".stripMargin),
    // The refine tail on the same chain: ADC top-R per query with the
    // SCALE-AWARE pool — R = max(4·k, ceil(n·nprobe/(6·nlist))) =
    // GREATEST(20, (n·2 + 47) // 48) at k=5/nprobe=2/nlist=8, the same
    // integer ceil-div IvfPq.autoRefinePool computes — then EXACT
    // squared L2 in double against the raw vectors re-ranks to top-5,
    // mirroring IvfPq.searchRerank's candidate window and l2Sq fold
    // order.
    "q_ann_ivfpq_rerank_oracle" ->
      (ivfPqResCtes + """,
        |rsz AS (SELECT GREATEST(20, (count(*) * 2 + 47) // 48) AS r FROM e),
        |cand AS (SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc ASC, vec_id) AS rn FROM adc)
        |  WHERE rn <= (SELECT r FROM rsz)),
        |exd AS (SELECT c3.q_id, c3.vec_id,
        |    list_transform(range(1, 65), j -> q.qv[j] - e2.v[j]) AS d
        |  FROM cand c3 JOIN q ON q.q_id = c3.q_id JOIN e e2 ON e2.vec_id = c3.vec_id),
        |ex AS (SELECT q_id, vec_id, list_dot_product(d, d) AS exact FROM exd),
        |rr AS (SELECT q_id, vec_id, exact,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY exact ASC, vec_id) AS rn FROM ex)
        |SELECT q_id, vec_id, round(exact, 6) AS exact FROM rr WHERE rn <= 5
        |ORDER BY q_id, vec_id""".stripMargin))
}
