package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.{TextFunctions => TF}

/** Round-3 continuation: training-pipeline operators that were
  * previously rows-only (or missing) put behind the DuckDB oracle gate.
  * Same contract as the other Queries files: every query has an oracle
  * over the identical parquet tables and ends in a total ORDER BY.
  *
  *  - q_neardup_exact:   EXACT all-pairs embedding cosine (block-tile
  *                       equi-join, no CartesianProduct) — the recall
  *                       oracle next to the LSH path (q_embed_neardup)
  *  - q_quality_filter:  C4-style rule filter with per-document verdict
  *                       and first-failing-rule reason
  *  - q_strip_stopwords: stopword removal + renormalization (the
  *                       cleaning transform ahead of shingling)
  *  - q_dedup_survivors: exact-dedup survivor materialization (the rows
  *                       a pipeline actually keeps, not just the group
  *                       table of q_dedup_exact)
  *  - q_repetition:      Gopher-style within-document repetition
  *                       metrics (unique-token / top-token / top-bigram
  *                       fractions)
  *  - q_semdedup:        SemDeDup semantic dedup (round 4): md5-plane
  *                       buckets, within-bucket cosine, keep-min
  *                       survivors — fully oracle-gated
  */
object QueriesExt5 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    QueriesCommon.table(s, dir, name)
  // heavy per-row kernels sit on this one (see QueriesCommon.fannedTable)
  private def ft(s: SparkSession, dir: String, name: String): DataFrame =
    QueriesCommon.fannedTable(s, dir, name)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) over the embedding
    * corpus: partition the space into buckets (the paper uses k-means
    * clusters; here the ENGINE-NEUTRAL md5 integer hyperplanes of
    * `Lsh.md5QuantBucket`, so the whole route sits behind the DuckDB
    * hash-match gate), compute pairwise cosine ONLY within a bucket,
    * and keep a vector iff no lower-id bucket-mate sits within the
    * similarity threshold — keep-min survivor semantics, matching
    * q_dedup_survivors. The bucket count (planes) is the scale knob:
    * at 100 TB more planes shrink buckets so the within-bucket
    * quadratic term stays bounded, exactly like the paper's k. */
  private def qSemDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = ft(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // plane-count scalar from the PLAIN table: counting the fanned
    // frame forced its round-robin exchange just to learn a row count
    // the parquet footers already hold (r15 — the q_bm25 nDocs idiom);
    // identical value, metadata-only job
    semDedupSurvivors(emb, semDedupPlanes(t(s, dir, "embeddings").count()))
  }

  /** AUTO-SCALED plane count (round 8): planes grows with log₂ of the
    * corpus so the EXPECTED bucket size — and with it the within-bucket
    * quadratic — stays bounded as the corpus grows, without the manual
    * knob the 15.7 GiB run flagged (20× pair-work growth on 3× rows at
    * fixed planes). The formula is INTEGER-EXACT so any SQL engine
    * reproduces it bit-for-bit (no float log whose ulp could flip a
    * ceil at power-of-two boundaries):
    *
    *   planes(n) = 6 + min(18, ceil(log₂(⌈n / 4096⌉)))
    *
    * computed as m = (n + 4095) / 4096; extra = bitlength(m − 1)
    * (0 when m ≤ 1) — `6 + least(18, length(bin(m - 1)))` in DuckDB.
    * n ≤ 4096 keeps the r7 behavior (planes = 6, every committed
    * oracle value unchanged at sf0.01); each corpus doubling past that
    * adds one plane, halving expected bucket occupancy; the +18 cap
    * (16M nominal buckets) bounds the plane-projection cost per row.
    * What auto-scaling CANNOT shrink is true near-dup groups: an ×84
    * replica profile keeps 84 copies per bucket by construction —
    * those pairs are the answer, not overhead (the retired
    * SemDedupPlanesProbe main separated the two terms). */
  private[graft] def semDedupPlanes(n: Long): Int = {
    val m = (n + 4095) / 4096
    val extra =
      if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    6 + math.min(18, extra)
  }

  /** The SemDeDup kernel behind q_semdedup, with the plane count — the
    * paper's cluster-count scale knob — as a parameter: more planes
    * halve the expected bucket size per plane, bounding the
    * within-bucket quadratic as the corpus grows. */
  private[graft] def semDedupSurvivors(emb: DataFrame, planes: Int): DataFrame = {
    val dims = graft.similarity.Lsh.probeDims(emb, "embedding")
    val pm = graft.similarity.Lsh.md5PlaneMatrixInt(planes, dims)
    val b = emb.withColumn("bucket",
      graft.similarity.Lsh.md5QuantBucket(col("embedding"), pm))
    val dropped = b.toDF("id_a", "va", "bucket")
      .join(b.toDF("id_b", "vb", "bucket"), "bucket")
      .filter(col("id_a") < col("id_b"))
      .filter(graft.functions.VectorFunctions.cosineSimilarity(
        col("va"), col("vb")) >= 0.25)
      .select(col("id_b").as("vec_id")).distinct()
    b.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("bucket"))
      .orderBy("vec_id")
  }

  /** Exact cosine pairs over the whole embedding corpus. All pairs are
    * scored — distributed as block tiles (Dedup.exactCosinePairs), not
    * a cartesian — making this the ground truth the approximate
    * near-dup paths are graded against. */
  private def qNeardupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactCosinePairs(ft(s, dir, "embeddings"), "vec_id", "embedding",
        minCosine = 0.25, blocks = 8)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("id_a", "id_b")

  /** C4-style quality filter: token-count bounds plus a stopword-ratio
    * cap, with the FIRST failing rule as the drop reason (evaluation
    * order is part of the contract). One scan, no shuffle until the
    * final presentation sort. */
  private def qQualityFilter(s: SparkSession, dir: String): DataFrame = {
    val nTok = TF.tokenCount(col("text"))
    val stopR = TF.stopwordRatio(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"), nTok.as("n_tok"),
        round(stopR, 6).as("stop_ratio"),
        when(nTok < 20, lit("too_short"))
          .when(nTok > 80, lit("too_long"))
          .when(stopR > 0.2, lit("too_stoppy"))
          .as("drop_reason"))
      .withColumn("keep", col("drop_reason").isNull)
      .orderBy("doc_id")
  }

  /** Stopword strip + whitespace renormalization — the text-cleaning
    * transform that precedes shingling/minhash in a dedup pipeline.
    * Pure higher-order column expressions (filter over the token
    * array), fully codegen'd, zero shuffles. */
  private def qStripStopwords(s: SparkSession, dir: String): DataFrame = {
    val stopArr = array(TF.defaultStopwords.map(lit): _*)
    val cleanText = array_join(
      filter(TF.tokens(lower(col("text"))), t => !array_contains(stopArr, t)),
      " ")
    t(s, dir, "documents")
      .select(col("doc_id"), cleanText.as("clean_text"),
        (TF.tokenCount(col("text")) - TF.tokenCount(cleanText)).as("n_removed"))
      .orderBy("doc_id")
  }

  /** Exact-dedup survivors: keep the min doc_id per content
    * fingerprint and return the surviving documents — the dedup step's
    * actual output table. Window-free formulation: the group table is
    * an aggregate (one shuffle on fp), survivors come back via a
    * semi-style join on (fp, doc_id). */
  private def qDedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("fp", md5(substring(col("text"), 1, 40)))
    val keep = docs.groupBy("fp")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
    docs.join(keep, Seq("fp", "doc_id"))
      .select(col("doc_id"), col("fp"), col("n_dups"), col("lang"),
        col("n_chars"))
      .orderBy("doc_id")
  }

  /** Re-embed transform behind the oracle gate: the batched
    * mapPartitions embed pipeline (§2.10) run with the engine-neutral
    * Md5Embedder, whose integral ±1 components DuckDB reproduces
    * bit-exactly from md5 nibbles. The xxhash/murmur production
    * embedder stays rows-only (`q_reembed`); this gates the transform
    * plumbing — batching, order preservation, null/empty-doc handling,
    * column attach. */
  private def qReembedOracle(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.transform.Reembed.embedColumn(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      "text", "emb", new graft.transform.Reembed.Md5Embedder(16),
      batchSize = 96)
    emb.select(col("doc_id") +: (0 until 16).map(i =>
        element_at(col("emb"), i + 1).cast("bigint").as(s"e$i")): _*)
      .orderBy("doc_id")
  }

  /** Gopher-style within-document repetition metrics (Rae et al. 2021
    * §A1.1: repetitious documents are low-quality training data):
    * unique-token fraction, most-frequent-token fraction, and
    * most-frequent-bigram fraction per document. Frequencies come from
    * explode + two-level aggregation (map-side partial combine keyed by
    * (doc_id, gram)) — never a per-row O(n²) array scan — so the
    * per-key state is one counter and the shape survives 100 TB. */
  private def qRepetition(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .select(col("doc_id"), TF.tokens(lower(col("text"))).as("toks"))
    val tokStats = base
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tok"), count(lit(1)).as("n_uniq"),
        max("c").as("top_tok"))
    val bgStats = base.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
        .as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bg"), max("c").as("top_bg"))
    tokStats.join(bgStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        round(col("n_uniq").cast("double") / col("n_tok"), 6).as("uniq_frac"),
        round(col("top_tok").cast("double") / col("n_tok"), 6).as("top_tok_frac"),
        round(coalesce(col("top_bg").cast("double") / col("n_bg"), lit(0d)), 6)
          .as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Banded simhash pairing (Manku WWW'07) behind the oracle gate: the
    * Spark side generates candidates via the pigeonhole band join —
    * never all pairs — while DuckDB brute-forces every pair; equality
    * PROVES the banded candidate set is complete on this corpus, not
    * just heuristically good. Runs on the md5 16-bit simhash both
    * engines construct identically (q_simhash_oracle). */
  private def qSimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.bandedHammingPairs(
        QueriesExt4.md5Simhash16(ft(s, dir, "documents")),
        "doc_id", "simhash16", maxHamming = 3, hashBits = 16)
      .withColumn("hamming", col("hamming").cast("bigint"))
      .orderBy("doc_a", "doc_b")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_simhash_pairs" -> (qSimhashPairs(_, _)),
    "q_neardup_exact" -> (qNeardupExact(_, _)),
    "q_quality_filter" -> (qQualityFilter(_, _)),
    "q_strip_stopwords" -> (qStripStopwords(_, _)),
    "q_dedup_survivors" -> (qDedupSurvivors(_, _)),
    "q_repetition" -> (qRepetition(_, _)),
    "q_reembed_oracle" -> (qReembedOracle(_, _)),
    "q_semdedup" -> (qSemDedup(_, _)))

  private val stopList = TF.stopwordsSqlLiteral

  val oracleSql: Map[String, String] = Map(
    "q_semdedup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |             list_transform(embedding::DOUBLE[], x -> floor(x * 1000)) AS qv
        |           FROM embeddings),
        |pcnt AS (SELECT 6 + least(18,
        |           CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END) AS planes
        |         FROM (SELECT (count(*) + 4095) // 4096 AS m FROM embeddings)),
        |pl AS (SELECT p, list_transform(
        |         range(0, (SELECT len(embedding) FROM embeddings LIMIT 1)),
        |         j -> CAST(strpos('0123456789abcdef',
        |                substr(md5(p || ':' || j), 1, 1)) - 9 AS DOUBLE)) AS c
        |       FROM range(0, 24) t(p) CROSS JOIN pcnt WHERE p < pcnt.planes),
        |pb AS (SELECT vec_id, any_value(v) AS v,
        |         CAST(sum(CASE WHEN list_dot_product(qv, c) >= 0
        |                       THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
        |       FROM e CROSS JOIN pl GROUP BY vec_id, qv),
        |dropped AS (SELECT DISTINCT b.vec_id
        |            FROM pb a JOIN pb b
        |              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |            WHERE list_dot_product(a.v, b.v) /
        |              (sqrt(list_dot_product(a.v, a.v)) *
        |               sqrt(list_dot_product(b.v, b.v))) >= 0.25)
        |SELECT vec_id, bucket FROM pb
        |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
        |ORDER BY vec_id""".stripMargin,
    "q_neardup_exact" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) /
        |  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.25
        |ORDER BY id_a, id_b""".stripMargin,
    "q_quality_filter" ->
      s"""WITH b AS (SELECT doc_id,
        |    ${TF.tokensOracleSql("text")} AS toks
        |  FROM documents),
        |f AS (SELECT doc_id, len(toks) AS n_tok,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE len(list_filter(toks, t -> list_contains($stopList, t)))::DOUBLE / len(toks) END AS sr
        |  FROM b)
        |SELECT doc_id, n_tok, round(sr, 6) AS stop_ratio,
        |  CASE WHEN n_tok < 20 THEN 'too_short'
        |       WHEN n_tok > 80 THEN 'too_long'
        |       WHEN sr > 0.2 THEN 'too_stoppy' END AS drop_reason,
        |  (CASE WHEN n_tok < 20 THEN 'too_short'
        |        WHEN n_tok > 80 THEN 'too_long'
        |        WHEN sr > 0.2 THEN 'too_stoppy' END) IS NULL AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "q_strip_stopwords" ->
      s"""WITH b AS (SELECT doc_id, text,
        |    ${TF.tokensOracleSql("lower(text)")} AS toks
        |  FROM documents),
        |c AS (SELECT doc_id, text,
        |    CASE WHEN toks IS NOT NULL THEN coalesce(array_to_string(
        |      list_filter(toks, t -> NOT list_contains($stopList, t)), ' '), '') END AS clean_text
        |  FROM b)
        |SELECT doc_id, clean_text,
        |  (len(${TF.tokensOracleSql("text")})
        |   - len(${TF.tokensOracleSql("clean_text")})) AS n_removed
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_dedup_survivors" ->
      """WITH d AS (SELECT doc_id, lang, n_chars,
        |    md5(substr(text, 1, 40)) AS fp FROM documents),
        |k AS (SELECT fp, min(doc_id) AS doc_id, count(*) AS n_dups FROM d GROUP BY fp)
        |SELECT d.doc_id, d.fp, k.n_dups, d.lang, d.n_chars
        |FROM d JOIN k ON d.fp = k.fp AND d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_repetition" ->
      s"""WITH b AS (SELECT doc_id,
        |    ${TF.tokensOracleSql("lower(text)")} AS toks
        |  FROM documents),
        |tc AS (SELECT doc_id, tok, count(*) AS c
        |       FROM (SELECT doc_id, unnest(toks) AS tok FROM b) GROUP BY 1, 2),
        |tm AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
        |         count(*) AS n_uniq, max(c) AS top_tok FROM tc GROUP BY 1),
        |bc AS (SELECT doc_id, bg, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |    FROM b WHERE len(toks) >= 2) GROUP BY 1, 2),
        |bm AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bg,
        |         max(c) AS top_bg FROM bc GROUP BY 1)
        |SELECT tm.doc_id, n_tok,
        |  round(n_uniq::DOUBLE / n_tok, 6) AS uniq_frac,
        |  round(top_tok::DOUBLE / n_tok, 6) AS top_tok_frac,
        |  round(coalesce(top_bg::DOUBLE / n_bg, 0), 6) AS top_bigram_frac
        |FROM tm LEFT JOIN bm ON tm.doc_id = bm.doc_id
        |ORDER BY tm.doc_id""".stripMargin,
    "q_simhash_pairs" ->
      s"""WITH ${QueriesExt4.simhash16Cte}
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash16, b.simhash16)) AS BIGINT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash16, b.simhash16)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_reembed_oracle" -> {
      val sums = (0 until 16).map(i =>
        s"CAST(coalesce(sum(CASE WHEN idx = $i THEN sgn ELSE 0 END), 0) AS BIGINT) AS e$i")
        .mkString(",\n        |    ")
      s"""WITH tok AS (SELECT doc_id, unnest(
        |    ${TF.tokensOracleSql("lower(text)")}) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id, substr(md5(tok), 1, 5) AS hx
        |      FROM tok),
        |v AS (SELECT doc_id,
        |    ((instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096 +
        |     (instr('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256 +
        |     (instr('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16 +
        |     (instr('0123456789abcdef', substr(hx, 4, 1)) - 1)) % 16 AS idx,
        |    CASE WHEN instr('89abcdef', substr(hx, 5, 1)) > 0
        |         THEN 1 ELSE -1 END AS sgn
        |  FROM h)
        |SELECT d.doc_id,
        |    $sums
        |FROM documents d LEFT JOIN v ON d.doc_id = v.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
    })
}
