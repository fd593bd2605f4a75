package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** Round-6 continuation: the data-mixture half of a training-data
  * pipeline. The reference moves corpora between stores and re-embeds
  * them; what a 100 TB pretraining pipeline does NEXT with those
  * corpora is weight them — downsample over-represented sources to a
  * target mixture (GPT-3's Table 2.2 sampling ratios; DoReMi, Xie et
  * al. NeurIPS'23), upsample high-quality sources by fractional
  * "epochs" (The Pile, Gao et al. 2020 — epochs per subset), and fix a
  * deterministic global training order. All three are expressed so the
  * draw is a pure integer function of the document id — reproducible
  * across runs, engines, partitionings, and cluster sizes — which is
  * what makes them oracle-gateable (DuckDB computes the identical
  * integer arithmetic) and what `df.sample`/`randomSplit` (partitioning-
  * dependent RNG) could never be.
  *
  *  - q_mixture_sample: downsample each source to target mixture
  *    weights, scaled so the limiting source is kept whole
  *  - q_mixture_epochs: fractional-epoch upsampling with explicit
  *    repeat rows (sequence + explode — the physical form a
  *    shuffled-shard writer consumes)
  *  - q_interleave:     first page of the deterministic global
  *    training order (hash-ordered TakeOrdered, never a global sort)
  */
object QueriesExt12 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    QueriesCommon.table(s, dir, name)

  /** Integer mixture weight 1..4 derived from the source name's
    * numeric suffix — a stand-in for the per-source quality weights a
    * real pipeline configures (weights are RELATIVE, so integers lose
    * no generality). */
  private val weightSql = "cast(substr(source, 4) AS int) % 4 + 1"

  /** Mixture resampling (GPT-3 Table 2.2 / DoReMi): keep source s at
    * rate w_s·T/n_s where T = min_s(n_s/w_s) — the largest corpus size
    * at which EVERY source can meet its target share without
    * upsampling; the limiting source is kept whole. The keep decision
    * `bucket·w_m·n_s < 256·w_s·n_m` is pure BIGINT arithmetic (no
    * float rate), so Spark and DuckDB keep bit-identical doc sets.
    * The argmin over n_s/w_s compares n_s·(2520/w_s) — exact integers,
    * since every weight 1..10 divides 2520 (the oracle uses 12; any
    * common multiple yields the same order). Kernel lives in
    * `ops/Mixture.resample` — the same code the `graft mixture` CLI
    * runs, so the CLI path sits behind this oracle gate.
    *
    * Shape at 100 TB: per-source counts are a map-side partial
    * aggregate into a ~|sources|-row table; the limiting row is a
    * 1-row aggregate of that; both broadcast back onto the corpus
    * scan, so the keep-filter is map-side — the ONLY corpus-scale
    * exchange is the final per-source summary (and a materializing
    * variant would have none at all: scan → filter → write). */
  private def qMixtureSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Mixture.resample(t(s, dir, "documents"), "source", "doc_id",
        expr(weightSql), keepDiagnostics = true)
      .groupBy("source")
      .agg(max(col("weight")).cast("int").as("weight"),
        max(col("n_total")).as("n_total"),
        count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
      .orderBy("source")

  /** Temperature / α-smoothed mixture (XLM-R, Conneau et al. 2020
    * §3.1; T5 §3.4.3), over the corpus's natural skew axis: LANGUAGE
    * shares (en dominates the synthetic corpus ~2.7× over de) — the
    * original use case of exponential smoothing. α=0.5 square-roots
    * the shares: en downsamples hardest, the rarest language is kept
    * whole. Weights are DERIVED from counts as
    * w_l = max(1, round(1024·√n_l/√n_max)) — sqrt is IEEE-correctly-
    * rounded and ·1024 is exact, so Spark and DuckDB compute the SAME
    * integer weight, and the keep rule is resample's pure-BIGINT
    * arithmetic: the gate hash-matches whole kept-doc sets. Kernel is
    * `ops/Mixture.temperature`, the path `graft mixture
    * --temperature` runs.
    *
    * Shape at 100 TB: identical to q_mixture_sample — a ~|langs|-row
    * broadcast table carries counts+weights+limiting row; the keep
    * filter is map-side; the only corpus-scale exchange is this
    * gate's per-lang summary. */
  private def qMixtureTemperature(s: SparkSession, dir: String): DataFrame =
    graft.ops.Mixture.temperature(t(s, dir, "documents"), "lang", "doc_id",
        alpha = 0.5, keepDiagnostics = true)
      .groupBy("lang")
      .agg(max(col("weight")).as("weight"),
        max(col("n_total")).as("n_total"),
        count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
      .orderBy("lang")

  /** Fractional-epoch upsampling (The Pile's epochs-per-subset): source
    * s trains for e_s epochs, e_s carried in 1/256ths (256..640 ⇒
    * 1.0–2.5 epochs off the source suffix). Every doc repeats
    * ⌊e_s⌋ times; an md5-bucket draw (`bucket < e_s mod 256`) selects
    * the extra fractional repeat — so emitted rows are a deterministic
    * function of (doc_id, source), and expected share matches e_s
    * exactly. The repeats are REAL rows (sequence + explode), the form
    * a shard-shuffling writer consumes, then summarized per source for
    * the gate.
    *
    * Shape at 100 TB: the explode is map-side (×e row growth, no
    * shuffle); the only exchange is the per-source summary — a
    * materializing variant is scan → explode → write, exchange-free. */
  private def qMixtureEpochs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Mixture.epochs(
        t(s, dir, "documents")
          .withColumn("e256",
            expr("256 + (cast(substr(source, 4) AS int) % 5) * 96")),
        "doc_id", col("e256"))
      .groupBy("source")
      .agg(max(col("e256")).as("e256"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("rows_emitted"),
        sum(col("n_chars")).as("chars_emitted"))
      .orderBy("source")

  /** Deterministic global training order: rank every doc by
    * md5(doc_id) — uniform shuffle in expectation, identical across
    * engines and partitionings — and show the first page. The top-40
    * is `orderBy(hash).limit(40)` = TakeOrderedAndProject (per-
    * partition heaps + driver merge of 40-row tops, NEVER a global
    * sort); the window that numbers them runs on 40 rows. The full-
    * corpus materialization of the same order is
    * `repartitionByRange(hash).sortWithinPartitions(hash)` → write —
    * one range exchange, the sorted-shard layout trainers stream. */
  private def qInterleave(s: SparkSession, dir: String): DataFrame = {
    val h = graft.ops.Mixture.orderKey("doc_id")
    val page = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), h.as("h"))
      .orderBy(col("h").asc, col("doc_id").asc)
      .limit(40)
    page.select(
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("h").asc, col("doc_id").asc)).as("rn"),
        col("doc_id"), col("source"), col("lang"))
      .orderBy("rn")
  }

  /** Per-source token budget (the "cap CommonCrawl at N tokens" knob
    * next to mixture weights): keep each source's docs in md5-priority
    * order until the running token total would pass the budget — a
    * greedy deterministic prefix of a uniform-random permutation, so
    * the kept set is unbiased yet reproducible. Budgets vary by source
    * suffix ((suffix%3+1)·1000 tokens) standing in for configured
    * caps; tokens are the engine's ONE shared tokenization
    * (`QueriesCommon.toksSql`).
    *
    * Shape at 100 TB: token counts are per-row map-side; the only
    * corpus-scale exchange is the per-source window (hash-partitioned
    * on source). A source too big for one window partition switches
    * to `Mixture.tokenBudgetSalted` — output-identical
    * (property-tested + oracle-gated via q_token_budget_salted),
    * whole buckets kept/dropped map-side and only the ~1/256 boundary
    * slice sorted; the summary agg rides the same partitioning,
    * exchange-free. */
  private def qTokenBudget(s: SparkSession, dir: String): DataFrame =
    graft.ops.Mixture.tokenBudget(
        t(s, dir, "documents")
          .withColumn("budget",
            expr("(cast(substr(source, 4) AS int) % 3 + 1) * 1000"))
          // counts-only: TextFunctions.tokenCount ≡ size(tokenHashesCol), r15
          .withColumn("toks", graft.functions.TextFunctions.tokenCount(col("text"))),
        "source", "doc_id", col("toks"), col("budget"))
      .groupBy("source")
      .agg(max(col("budget")).as("budget"), count(lit(1)).as("n_kept"),
        sum(col("toks")).as("tokens_kept"))
      .orderBy("source")

  /** The skew path behind the SAME oracle: `Mixture.tokenBudgetSalted`
    * keeps/drops whole top-byte buckets map-side and window-sorts only
    * the one boundary bucket per source (~1/256 of the rows) — gated
    * against q_token_budget's exact-prefix SQL verbatim, because the
    * two kernels are output-identical by construction. */
  private def qTokenBudgetSalted(s: SparkSession, dir: String): DataFrame =
    graft.ops.Mixture.tokenBudgetSalted(
        t(s, dir, "documents")
          .withColumn("budget",
            expr("(cast(substr(source, 4) AS int) % 3 + 1) * 1000"))
          // counts-only: TextFunctions.tokenCount ≡ size(tokenHashesCol), r15
          .withColumn("toks", graft.functions.TextFunctions.tokenCount(col("text"))),
        "source", "doc_id", col("toks"), col("budget"))
      .groupBy("source")
      .agg(max(col("budget")).as("budget"), count(lit(1)).as("n_kept"),
        sum(col("toks")).as("tokens_kept"))
      .orderBy("source")

  /** Incremental dedup against an existing index — the nightly-crawl
    * shape: yesterday's corpus is a fingerprint INDEX, today's batch
    * drops (a) docs whose content fingerprint already exists in the
    * index and (b) within-batch dups (keep-min doc_id). The index/new
    * split is an md5 coin on the id so both engines cut identically.
    *
    * The fp here is md5(trim(lower(text))) — full normalized content.
    * NOTE: a deployment must fix ONE canonical fp across its
    * dedup/index/split operators; the q_dedup_exact demo query
    * deliberately uses a 40-char-prefix fp to manufacture dup groups
    * in the synthetic corpus, so its output is NOT this operator's
    * index — the shapes compose, the keys are the deployment's choice.
    *
    * Shape at 100 TB: the index side is ONLY fingerprints (the
    * materialized exact-dedup fp table a real pipeline keeps
    * between runs); new-vs-index is a fingerprint anti-join and
    * within-batch survival a fingerprint window — both ride one
    * fingerprint-keyed exchange per side, no text moves after the
    * map-side hash. */
  private def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("fp", md5(trim(lower(col("text")))))
      .withColumn("is_new", graft.ops.Mixture.bucket("doc_id") >= 128)
    val index = docs.filter(!col("is_new")).select("fp").distinct()
    val fresh = docs.filter(col("is_new"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy(col("doc_id").asc)
    val marked = fresh
      .join(index.withColumn("in_index", lit(true)), Seq("fp"), "left")
      .withColumn("rn", row_number().over(w))
      .withColumn("status",
        when(col("in_index").isNotNull, lit("dup_vs_index"))
          .when(col("rn") > 1, lit("dup_within"))
          .otherwise(lit("kept")))
    marked.groupBy("source")
      .agg(count(lit(1)).as("n_new"),
        sum(when(col("status") === "dup_vs_index", 1L).otherwise(0L))
          .as("n_dup_index"),
        sum(when(col("status") === "dup_within", 1L).otherwise(0L))
          .as("n_dup_within"),
        sum(when(col("status") === "kept", 1L).otherwise(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** Leakage-safe train/val/test split: the assignment coin is the
    * CONTENT fingerprint, not the row id — every exact duplicate of a
    * text lands in the same split BY CONSTRUCTION (same fp → same md5
    * bucket), so the eval sets cannot contain a training dup.
    * q_split_sample's id-keyed rule does leak on a corpus with dups;
    * this is the split a dedup-aware pipeline actually ships
    * (fp = md5 of the trim/lower-normalized text, the SAME definition
    * q_dedup_incremental keys on — one canonical fp across the
    * dedup/index/split family; for NEAR-dup safety q_split_nodup keys
    * on the q_dup_clusters component root instead — same shape, the
    * cluster id replaces fp). Map-side assignment, one summary
    * exchange. */
  private def qSplitLeakfree(s: SparkSession, dir: String): DataFrame = {
    val bucket = graft.ops.Mixture.bucket("fp")
    t(s, dir, "documents")
      .withColumn("fp", md5(trim(lower(col("text")))))
      .withColumn("split",
        when(bucket < 230, lit("train")).when(bucket < 243, lit("val"))
          .otherwise(lit("test")))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_fps"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("split")
  }

  /** Embedding drift between corpus versions — the vector-space
    * sibling of q_corpus_diff: per label, how far the version-2
    * centroid rotated from version-1's (cosine) and the version
    * populations. The v1/v2 cut is the md5 coin on the id (simulating
    * two crawl snapshots); centroids come from ONE conditional-avg
    * pass over the posexploded vectors — no join between versions, the
    * per-(label,dim) aggregate carries both sides. The re-embedding /
    * model-upgrade monitor every production vector pipeline runs
    * before swapping an index (reference: reembed.py's model_map
    * records exactly this lineage).
    *
    * Shape at 100 TB: one exchange on (label, dim) with map-side
    * partial avgs (×dims row growth is the q_centroids shape; swap to
    * VectorExpressions' elementwise array-sum agg to remove it), a
    * ~|labels|·dims second-stage fold, and a tiny count agg — the
    * corpus never joins itself. */
  private def qEmbedDrift(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val is1 = graft.ops.Mixture.bucket("vec_id") < 128
    val cents = e
      .select(col("label"), is1.as("is1"), posexplode(col("embedding")))
      .groupBy("label", "pos")
      .agg(avg(when(col("is1"), col("col").cast("double"))).as("c1"),
        avg(when(!col("is1"), col("col").cast("double"))).as("c2"))
    val sim = cents.groupBy("label")
      .agg((sum(col("c1") * col("c2")) /
          (sqrt(sum(col("c1") * col("c1"))) * sqrt(sum(col("c2") * col("c2")))))
        .as("cos"))
    e.groupBy("label")
      .agg(sum(when(is1, 1L).otherwise(0L)).as("n_v1"),
        sum(when(!is1, 1L).otherwise(0L)).as("n_v2"))
      .join(sim, "label")
      .select(col("label"), col("n_v1"), col("n_v2"),
        round(col("cos"), 6).as("centroid_cos"))
      .orderBy("label")
  }

  /** NEAR-dup-safe split — the completion of q_split_leakfree's
    * promise: the assignment coin is the duplicate-CLUSTER root
    * (q_dup_clusters' component: n-gram-Jaccard pairs closed under
    * large-star/small-star CC), so near-duplicates — not just exact
    * ones — cannot straddle train/test. This is the decontamination
    * discipline of Lee et al. ACL'22 / GPT-3's dedup appendix applied
    * at split time. Summary per split: docs, clusters, chars.
    *
    * Shape at 100 TB: the pair/CC stages are q_dup_clusters' (df-cap
    * before the inverted self-join, O(log n) star rounds); the
    * assignment itself is one map-side coin on the component id plus
    * a tiny summary exchange. */
  private def qSplitNodup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = graft.dedup.Dedup.ngramJaccardPairs(
      QueriesCommon.fannedTable(s, dir, "documents"), "doc_id", "text",
      k = 3, dfCap = 10, threshold = 0.1)
    val comp = graft.dedup.DupClusters.connectedComponents(pairs, "doc_a", "doc_b")
    val bucket = graft.ops.Mixture.bucket("component")
    docs
      .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("split",
        when(bucket < 230, lit("train")).when(bucket < 243, lit("val"))
          .otherwise(lit("test")))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("component")).as("n_clusters"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("split")
  }

  /** The explode-FREE centroid path — q_centroids' scaladoc promise
    * made real: per-label centroids via the ElementwiseStats
    * Aggregator (fixed-width array buffers, map-side partial merge).
    * Honest accounting: partial aggregation collapses BOTH paths'
    * exchanges, so the explode path's real cost is map-side — it
    * materializes n×dims intermediate rows and hash-aggregates on
    * n×dims (label,pos) keys, where the aggregator folds each vector
    * into one array buffer (measured 1.0–1.2× at 1M×128 across
    * windows, the retired CentroidProbe main — modest in one JVM; the
    * structural win is the absent n×dims hash table, which is what
    * spills first under executor memory pressure). Only the
    * ~|labels| aggregated rows posexplode for the long-format output
    * (plan-asserted). Output (rounded 6dp, both sides) matches the
    * explode path's oracle.
    *
    * Oracle-divergence note (intentional): `st.n` is the per-LABEL
    * vector count replicated to every pos, while the DuckDB oracle's
    * count is per-(label,pos). Equal for this corpus's fixed-width
    * embeddings; on RAGGED arrays ElementwiseStats fails fast (its
    * `require` on width) where the oracle would return differing
    * per-pos counts — so a future ragged-embedding dataset must not
    * be gated against this oracle as-is. */
  private def qCentroidsAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .groupBy("label")
      .agg(graft.functions.VectorAggregates
        .elementwiseStats(col("embedding")).as("st"))
      .select(col("label"), col("st.n").as("n"), posexplode(col("st.sum")))
      .select(col("label"), col("pos"), col("n"),
        round(col("col") / col("n"), 6).as("centroid"))
      .orderBy("label", "pos")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_centroids_agg" -> (qCentroidsAgg(_, _)),
    "q_split_nodup" -> (qSplitNodup(_, _)),
    "q_embed_drift" -> (qEmbedDrift(_, _)),
    "q_split_leakfree" -> (qSplitLeakfree(_, _)),
    "q_mixture_sample" -> (qMixtureSample(_, _)),
    "q_mixture_temperature" -> (qMixtureTemperature(_, _)),
    "q_mixture_epochs" -> (qMixtureEpochs(_, _)),
    "q_interleave" -> (qInterleave(_, _)),
    "q_token_budget" -> (qTokenBudget(_, _)),
    "q_token_budget_salted" -> (qTokenBudgetSalted(_, _)),
    "q_dedup_incremental" -> (qDedupIncremental(_, _)))

  private[graft] val duckBucket =
    "(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16" +
      " + instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1"

  private val duckFpBucket =
    "(instr('0123456789abcdef', substr(md5(fp), 31, 1)) - 1) * 16" +
      " + instr('0123456789abcdef', substr(md5(fp), 32, 1)) - 1"

  private val duckVecBucket =
    "(instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 31, 1)) - 1) * 16" +
      " + instr('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 32, 1)) - 1"

  private val duckCompBucket =
    "(instr('0123456789abcdef', substr(md5(CAST(component AS VARCHAR)), 31, 1)) - 1) * 16" +
      " + instr('0123456789abcdef', substr(md5(CAST(component AS VARCHAR)), 32, 1)) - 1"

  val oracleSql: Map[String, String] = Map(
    "q_centroids_agg" ->
      """SELECT label, pos, count(*) AS n,
        |  round(avg(CAST(e AS DOUBLE)), 6) AS centroid
        |FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
        |        UNNEST(embedding) AS e
        |      FROM embeddings WHERE embedding IS NOT NULL)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    "q_split_nodup" ->
      s"""WITH RECURSIVE b AS (SELECT doc_id,
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
        |          GROUP BY 1, 2),
        |pairs AS (SELECT da, db FROM inter
        |          JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
        |          WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.1),
        |edges AS (SELECT da AS a, db AS b FROM pairs
        |          UNION SELECT db AS a, da AS b FROM pairs),
        |reach(node, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node),
        |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
        |assigned AS (SELECT d.doc_id, d.n_chars,
        |    coalesce(c.component, d.doc_id) AS component
        |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
        |lab AS (SELECT doc_id, n_chars, component,
        |    CASE WHEN ($duckCompBucket) < 230 THEN 'train'
        |         WHEN ($duckCompBucket) < 243 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM assigned)
        |SELECT split, count(*) AS n_docs,
        |  count(DISTINCT component) AS n_clusters,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM lab GROUP BY split ORDER BY split""".stripMargin,
    "q_embed_drift" ->
      s"""WITH v AS (SELECT label, ($duckVecBucket) < 128 AS is1,
        |    generate_subscripts(embedding, 1) - 1 AS pos,
        |    UNNEST(embedding) AS e
        |  FROM embeddings),
        |c AS (SELECT label, pos,
        |    avg(CASE WHEN is1 THEN CAST(e AS DOUBLE) END) AS c1,
        |    avg(CASE WHEN NOT is1 THEN CAST(e AS DOUBLE) END) AS c2
        |  FROM v GROUP BY 1, 2),
        |s AS (SELECT label, sum(c1 * c2) /
        |    (sqrt(sum(c1 * c1)) * sqrt(sum(c2 * c2))) AS cos
        |  FROM c GROUP BY 1),
        |n AS (SELECT label,
        |    CAST(sum(CASE WHEN ($duckVecBucket) < 128 THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
        |    CAST(sum(CASE WHEN ($duckVecBucket) < 128 THEN 0 ELSE 1 END) AS BIGINT) AS n_v2
        |  FROM embeddings GROUP BY 1)
        |SELECT n.label, n.n_v1, n.n_v2, round(s.cos, 6) AS centroid_cos
        |FROM n JOIN s ON n.label = s.label ORDER BY n.label""".stripMargin,
    "q_split_leakfree" ->
      s"""WITH f AS (SELECT doc_id, n_chars, md5(trim(lower(text))) AS fp
        |  FROM documents),
        |b AS (SELECT doc_id, n_chars, fp, $duckFpBucket AS bucket FROM f)
        |SELECT CASE WHEN bucket < 230 THEN 'train' WHEN bucket < 243 THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_docs, count(DISTINCT fp) AS n_fps,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM b GROUP BY split ORDER BY split""".stripMargin,
    "q_mixture_sample" ->
      s"""WITH counts AS (
        |  SELECT source, count(*) AS n_total,
        |    CAST(substr(source, 4) AS INT) % 4 + 1 AS w
        |  FROM documents GROUP BY source),
        |lim AS (SELECT n_total AS n_m, w AS w_m FROM counts
        |        ORDER BY n_total * (12 // w), source NULLS FIRST LIMIT 1)
        |SELECT d.source, max(c.w) AS weight, max(c.n_total) AS n_total,
        |  count(*) AS n_kept, CAST(sum(d.n_chars) AS BIGINT) AS kept_chars
        |FROM documents d JOIN counts c ON d.source = c.source CROSS JOIN lim
        |WHERE ($duckBucket) * lim.w_m * c.n_total < 256 * c.w * lim.n_m
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q_mixture_temperature" ->
      s"""WITH counts AS (
        |  SELECT lang, count(*) AS n_total FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_total,
        |    GREATEST(1, CAST(round(1024 * sqrt(n_total) /
        |      (SELECT sqrt(max(n_total)) FROM counts)) AS BIGINT)) AS w
        |  FROM counts),
        |lim AS (SELECT n_total AS n_m, w AS w_m FROM w
        |        ORDER BY CAST(n_total AS DOUBLE) / w, lang NULLS FIRST LIMIT 1)
        |SELECT d.lang, max(w.w) AS weight, max(w.n_total) AS n_total,
        |  count(*) AS n_kept, CAST(sum(d.n_chars) AS BIGINT) AS kept_chars
        |FROM documents d JOIN w ON d.lang = w.lang CROSS JOIN lim
        |WHERE ($duckBucket) * lim.w_m * w.n_total < 256 * w.w * lim.n_m
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "q_mixture_epochs" ->
      s"""WITH b AS (
        |  SELECT source, doc_id, n_chars,
        |    256 + (CAST(substr(source, 4) AS INT) % 5) * 96 AS e256,
        |    $duckBucket AS bucket
        |  FROM documents),
        |r AS (SELECT source, doc_id, n_chars, e256,
        |    e256 // 256 + CASE WHEN bucket < e256 % 256 THEN 1 ELSE 0 END AS reps
        |  FROM b),
        |x AS (SELECT source, doc_id, n_chars, e256,
        |    unnest(range(CAST(reps AS BIGINT))) AS rep FROM r)
        |SELECT source, max(e256) AS e256, count(DISTINCT doc_id) AS n_docs,
        |  count(*) AS rows_emitted, CAST(sum(n_chars) AS BIGINT) AS chars_emitted
        |FROM x GROUP BY source ORDER BY source""".stripMargin,
    "q_interleave" ->
      """SELECT rn, doc_id, source, lang FROM (
        |  SELECT doc_id, source, lang,
        |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 40 ORDER BY rn""".stripMargin,
    "q_token_budget" ->
      s"""WITH b AS (
        |  SELECT source, doc_id,
        |    (CAST(substr(source, 4) AS INT) % 3 + 1) * 1000 AS budget,
        |    len(${TF.tokensOracleSql("lower(text)")}) AS toks
        |  FROM documents),
        |c AS (SELECT source, budget, toks,
        |    sum(toks) OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM b)
        |SELECT source, max(budget) AS budget, count(*) AS n_kept,
        |  CAST(max(cum) AS BIGINT) AS tokens_kept
        |FROM c WHERE cum <= budget
        |GROUP BY source ORDER BY source""".stripMargin,
    // the salted kernel is output-identical to the exact prefix, so it
    // gates against the SAME SQL — the oracle is the spec, the kernel
    // only changes which rows pay a sort
    "q_token_budget_salted" ->
      s"""WITH b AS (
        |  SELECT source, doc_id,
        |    (CAST(substr(source, 4) AS INT) % 3 + 1) * 1000 AS budget,
        |    len(${TF.tokensOracleSql("lower(text)")}) AS toks
        |  FROM documents),
        |c AS (SELECT source, budget, toks,
        |    sum(toks) OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM b)
        |SELECT source, max(budget) AS budget, count(*) AS n_kept,
        |  CAST(max(cum) AS BIGINT) AS tokens_kept
        |FROM c WHERE cum <= budget
        |GROUP BY source ORDER BY source""".stripMargin,
    "q_dedup_incremental" ->
      s"""WITH d AS (
        |  SELECT source, doc_id, md5(trim(lower(text))) AS fp,
        |    ($duckBucket) >= 128 AS is_new
        |  FROM documents),
        |idx AS (SELECT DISTINCT fp FROM d WHERE NOT is_new),
        |m AS (SELECT f.source, f.fp, idx.fp IS NOT NULL AS in_index,
        |    row_number() OVER (PARTITION BY f.fp ORDER BY f.doc_id) AS rn
        |  FROM d f LEFT JOIN idx ON f.fp = idx.fp WHERE f.is_new)
        |SELECT source, count(*) AS n_new,
        |  CAST(sum(CASE WHEN in_index THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_index,
        |  CAST(sum(CASE WHEN NOT in_index AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_within,
        |  CAST(sum(CASE WHEN NOT in_index AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM m GROUP BY source ORDER BY source""".stripMargin)
}
