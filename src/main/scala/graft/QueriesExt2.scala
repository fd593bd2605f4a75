package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{CleaningFunctions => CF}
import graft.multimodal.Multimodal
import graft.transform.Reembed

/** Batch 3 of the driver-contract queries: cleaning/coercion parity ops
  * (SURVEY §2.8 F1/F10-F11/F16/F24, §2.3 P6, §2.7 O2), sparse-vector
  * handling, multimodal payload metadata, and the mapPartitions
  * pipelines (re-embed, media feature extraction) run distributed. */
object QueriesExt2 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    QueriesCommon.table(s, dir, name)

  /** P6 drop-null-vector filter (`chroma_import.py:166-172`): nulls are
    * injected deterministically, then na.drop removes them — the
    * filter is pushed into the scan where possible. */
  private def qDropNullVec(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .withColumn("v",
        when(pmod(col("vec_id"), lit(7)) === 0, lit(null))
          .otherwise(col("embedding")))
      .na.drop(Seq("v"))
      .select(col("vec_id"), size(col("v")).as("dim"))
      .orderBy("vec_id")

  /** F10/F11 value cleaning: NaN/Inf injected deterministically, then
    * the two per-sink policies applied — NaN/Inf→null (general,
    * `util.py:480-490`) and NaN/Inf→0 (Qdrant, `qdrant_import.py:390-403`). */
  private def qCleanValues(s: SparkSession, dir: String): DataFrame = {
    val dirty = when(pmod(col("event_id"), lit(5)) === 0, lit(Double.NaN))
      .when(pmod(col("event_id"), lit(5)) === 1, lit(Double.PositiveInfinity))
      .otherwise(col("value"))
    t(s, dir, "events")
      .select(col("event_id"), dirty.as("dirty"))
      .select(col("event_id"),
        CF.nanToNull(CF.infToNan(col("dirty"))).as("as_null"),
        CF.nanToZero(CF.infToNan(col("dirty"))).as("as_zero"))
      .orderBy("event_id")
  }

  /** F1 `extract_vector` string branch (`vdf_import_cls.py:200-209`):
    * a bracketed string rendering is parsed back into array<float>;
    * integer-valued components keep the parse exact across engines. */
  private def qVecExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        CF.vectorFromString(concat(lit("["), col("vec_id").cast("string"),
          lit(", "), (col("vec_id") + 1).cast("string"), lit("]"))).as("v"))
      .select(col("vec_id"), size(col("v")).as("dim"),
        expr("CAST(aggregate(v, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE)) AS DOUBLE)").as("s"))
      .orderBy("vec_id")

  /** Sparse-vector support (SURVEY §1.1: Pinecone sparseValues /
    * Qdrant sparse_vectors_config): dense → (indices, values) struct,
    * plus nnz and self-dot energy. */
  private def qSparseVec(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .withColumn("kept",
        filter(col("embedding"), x => abs(x.cast("double")) >= 0.1))
      .select(col("vec_id"),
        size(col("kept")).as("nnz"),
        round(aggregate(col("kept"), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double")), 6).as("energy"))
      .orderBy("vec_id")

  /** Multimodal payload metadata (binary column plumbing): byte length
    * and content hash computed on an opaque binary payload — pure
    * column expressions, no decode kernel needed. */
  private def qMultimodalMeta(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        Multimodal.byteLen(encode(col("text"), "UTF-8")).as("n_bytes"),
        Multimodal.contentMd5(encode(col("text"), "UTF-8")).as("content_md5"))
      .orderBy("doc_id")

  /** O2 id-set difference (`pinecone_export.py:198,408`): urgent orders
    * with no returned lineitem, as EXCEPT-distinct semantics —
    * distributed, never a collected id set. Spelled directly as
    * anti-join + distinct (what Catalyst rewrites EXCEPT to anyway;
    * distinct AFTER the join is set-equivalent and aggregates only the
    * survivors instead of the whole urgent side).
    *
    * Round-12 stage-split findings (exceptids_r12.txt): (a) a left-anti
    * can only hash-build its RIGHT side, and here that side is the
    * R-filtered FACT table (~150M keys at 15.7 GiB) — the same
    * structural fact qAntiMissing encodes, so the exclusion side is
    * HINTED merge (sort-merge streams both sides; below the at-scale
    * gate the planner prefers SMJ anyway); (b) both sides live on the
    * bucketed spine layouts when an ingest wrote them, where the whole
    * difference — scan, anti zipper, distinct — plans with ZERO
    * join-key exchanges (the filters preserve per-bucket order, the
    * distinct's partitioning requirement is satisfied by the bucket
    * partitioning). An explicit broadcast hint on the exclusion side
    * was measured SLOWER below the size gate (the build job serializes
    * the DAG) and at scale the exclusion side scales with the fact
    * table — never broadcastable. */
  private def qExceptIds(s: SparkSession, dir: String): DataFrame =
    idSetOp(s, dir, "left_anti")

  /** Shared spine for q_except_ids / q_intersect_ids — identical
    * route-selection and join shape, only the join type differs. */
  private[graft] def idSetOp(s: SparkSession, dir: String,
      joinType: String): DataFrame = {
    val oB = QueriesCommon.spineOpt(s, dir, "orders",
      Seq("o_orderkey", "o_orderpriority"))
    val liB = QueriesCommon.spineOpt(s, dir, "lineitem",
      Seq("l_orderkey", "l_returnflag"))
    // both layouts or neither: a mixed pair would split the plan
    // across branch sessions (bucketed frames live on the spine fork)
    val bucketed = oB.isDefined && liB.isDefined
    val left = (if (bucketed) oB.get
        else t(s, dir, "orders").select("o_orderkey", "o_orderpriority"))
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("id"))
    val right = (if (bucketed) liB.get
        else t(s, dir, "lineitem").select("l_orderkey", "l_returnflag"))
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("id"))
    // Why NO fact-side pre-distinct here, unlike qAntiMissing (the r12
    // ADVICE asked for the rule to be applied or the asymmetry
    // documented — this is the documented measurement): the distinct
    // pays only when per-key multiplicity is HIGH. qAntiMissing's fact
    // side is UNFILTERED lineitem keys (~4 rows/order — the partial
    // agg collapses the exchange 4×, wall-neutral in one JVM, 4× less
    // network on a cluster). Here the l_returnflag = 'R' filter
    // already collapses multiplicity to ~1.8× (16.0M rows / 8.85M keys
    // at 1.4 GiB), and the alternating-arm A/B on the plain route
    // (the retired IdSetOpProbe main,
    // docs/artifacts/idsetop_plain_r13.txt)
    // measured the distinct 29% SLOWER for the anti (1.22 → 1.57 s
    // min-of-3) and ~neutral for the semi (2.28 → 2.15 s): the added
    // hash aggregate costs more than the 1.8× exchange shrink is
    // worth. Bucketed route: no distinct either way — the zipper
    // streams the co-located scan; there is no exchange to shrink.
    left.join(right.hint("merge"), Seq("id"), joinType)
      .distinct()
      .orderBy("id")
  }

  /** F24 dims resolution over the whole table (the set variant of the
    * first-non-null probe): all distinct vector lengths. */
  private def qFirstDims(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .where(col("embedding").isNotNull)
      .select(size(col("embedding")).as("dim"))
      .distinct()
      .orderBy("dim")

  /** F16 binary (sign-bit) quantization (`reembed.py:500-512`):
    * 1 bit per dimension, rendered as a bit string. */
  private def qQuantizeBits(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        array_join(transform(col("embedding"),
          x => when(x >= 0, lit("1")).otherwise(lit("0"))), "").as("bits"))
      .orderBy("vec_id")

  /** Streaming-shaped distinct-user rollup: hourly unique visitors —
    * the batch twin of a windowed approx_count_distinct stream. */
  private def qWindowUsers(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    raw
      .groupBy(QueriesCommon.eventHourEpoch(raw).as("hour_epoch"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("hour_epoch")
  }

  /** L6 top-k per group via window (the per-query top-k shape of
    * similarity search, on relational data): top-3 orders by price
    * within each priority class. */
  private def qTopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "rn")
  }

  /** Skew-safe two-phase aggregation (ops.Scale.saltedAgg): same
    * result as a direct groupBy, but the hot key's rows spread over 8
    * salt buckets in phase 1 — the pattern that removes stragglers at
    * 100 TB. Oracle = the direct GROUP BY. */
  private def qSaltedAgg(s: SparkSession, dir: String): DataFrame =
    graft.ops.Scale.saltedAgg(t(s, dir, "lineitem"),
        col("l_returnflag"), saltBuckets = 8,
        partial = Seq(
          expr("SUM(CAST(l_quantity AS DECIMAL(18,4)))").as("ps"),
          count(lit(1)).as("pn")),
        finals = Seq(
          expr("CAST(SUM(ps) AS DOUBLE)").as("sum_qty"),
          sum(col("pn")).as("n")))
      .withColumnRenamed("__key", "l_returnflag")
      .orderBy("l_returnflag")

  /** Multi-level rollup aggregation (profiling shape for dataset
    * reporting, SURVEY §7.5 "approx/profiling for free"): revenue by
    * (returnflag, linestatus) with subtotal and grand-total rows.
    * Rollup nulls are rendered as 'ALL' so the grouping marker is
    * engine-agnostic. */
  private def qRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)").as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_qty"), col("n"))
      .orderBy("flag", "status")

  // ----- rows-only (mapPartitions kernels: not SQL-expressible) -----

  /** Multimodal batched feature extraction over binary payloads
    * (stub decode kernel, real Spark plumbing — §Multimodal). */
  private def qMediaFeatures(s: SparkSession, dir: String): DataFrame = {
    val media = t(s, dir, "documents")
      .select(col("doc_id").cast("string").as("id"),
        lit("text").as("modality"),
        encode(col("text"), "UTF-8").as("payload"),
        lit("text/plain").as("mime"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("bigint").as("duration_ms"))
    Multimodal.extractFeatures(media, "payload", new Multimodal.StubDecoder(8),
        batchSize = 64)
      .select(col("id"), col("byte_len"), col("content_hash"))
      .orderBy(col("id").cast("long"))
  }

  /** IVF coarse-quantized ANN (the k-means scale path next to the LSH
    * variant): build 8 lists over the corpus, probe the 2 nearest per
    * query. Deterministic (fixed seed) but k-means isn't
    * SQL-expressible → rows-only. */
  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    // train the coarse quantizer on a half sample (the standard trick
    // when the corpus is huge — centroids need only a sketch of the
    // distribution), then assign ALL vectors to lists
    val index = graft.similarity.Ivf.build(e, "vec_id", "embedding",
      nlist = 8, seed = 42L, maxIter = 5, sampleFraction = 0.5)
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    graft.similarity.Ivf.search(index, q, k = 5, nprobe = 2)
      .withColumn("sim", round(col("sim"), 6))
      .orderBy("q_id", "vec_id")
  }

  /** The re-embed pipeline (SURVEY §2.10) end to end: batched
    * mapPartitions embedding with the deterministic hashing model. */
  private def qReembed(s: SparkSession, dir: String): DataFrame =
    Reembed.embedColumn(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", "emb", new Reembed.HashingEmbedder(16), batchSize = 96)
      .select(col("doc_id"), size(col("emb")).as("dim"),
        round(graft.functions.VectorFunctions.l2Norm(col("emb")), 3).as("nrm"))
      .orderBy("doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_drop_null_vec" -> (qDropNullVec(_, _)),
    "q_clean_values" -> (qCleanValues(_, _)),
    "q_vec_extract" -> (qVecExtract(_, _)),
    "q_sparse_vec" -> (qSparseVec(_, _)),
    "q_multimodal_meta" -> (qMultimodalMeta(_, _)),
    "q_except_ids" -> (qExceptIds(_, _)),
    "q_first_dims" -> (qFirstDims(_, _)),
    "q_quantize_bits" -> (qQuantizeBits(_, _)),
    "q_window_users" -> (qWindowUsers(_, _)),
    "q_topk_per_group" -> (qTopkPerGroup(_, _)),
    "q_salted_agg" -> (qSaltedAgg(_, _)),
    "q_rollup" -> (qRollup(_, _)),
    "q_media_features" -> (qMediaFeatures(_, _)),
    "q_ann_ivf" -> (qAnnIvf(_, _)),
    "q_reembed" -> (qReembed(_, _)))

  val oracleSql: Map[String, String] = Map(
    "q_drop_null_vec" ->
      """SELECT vec_id, len(embedding) AS dim FROM embeddings
        |WHERE vec_id % 7 <> 0 ORDER BY vec_id""".stripMargin,
    "q_clean_values" ->
      """WITH d AS (SELECT event_id,
        |  CASE WHEN event_id % 5 = 0 THEN 'NaN'::DOUBLE
        |       WHEN event_id % 5 = 1 THEN 'Infinity'::DOUBLE
        |       ELSE value END AS dirty FROM events)
        |SELECT event_id,
        |  CASE WHEN isnan(dirty) OR isinf(dirty) THEN NULL ELSE dirty END AS as_null,
        |  CASE WHEN isnan(dirty) OR isinf(dirty) THEN 0.0 ELSE dirty END AS as_zero
        |FROM d ORDER BY event_id""".stripMargin,
    "q_vec_extract" ->
      """SELECT vec_id, len(v) AS dim,
        |  CAST(v[1] + v[2] AS DOUBLE) AS s
        |FROM (SELECT vec_id,
        |        list_transform(string_split(concat(vec_id, ',', vec_id + 1), ','),
        |          x -> CAST(x AS FLOAT)) AS v
        |      FROM embeddings)
        |ORDER BY vec_id""".stripMargin,
    "q_sparse_vec" ->
      """WITH k AS (SELECT vec_id,
        |    list_filter(embedding, x -> abs(CAST(x AS DOUBLE)) >= 0.1) AS kept
        |  FROM embeddings)
        |SELECT vec_id, len(kept) AS nnz,
        |  round(coalesce(list_sum(list_transform(kept,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 0.0), 6) AS energy
        |FROM k ORDER BY vec_id""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_except_ids" ->
      """SELECT o_orderkey AS id FROM orders WHERE o_orderpriority = '1-URGENT'
        |EXCEPT SELECT l_orderkey AS id FROM lineitem WHERE l_returnflag = 'R'
        |ORDER BY id""".stripMargin,
    "q_first_dims" ->
      """SELECT DISTINCT len(embedding) AS dim FROM embeddings
        |WHERE embedding IS NOT NULL ORDER BY dim""".stripMargin,
    "q_quantize_bits" ->
      """SELECT vec_id,
        |  array_to_string(list_transform(embedding,
        |    x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bits
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_window_users" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |  COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY hour_epoch""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,
    "q_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_topk_per_group" ->
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin)
}
