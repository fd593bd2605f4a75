package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{TextFunctions => TF}

/** Training-data-pipeline operators behind the DuckDB oracle gate,
  * each a distinct op family not yet covered (round 3 + round 4):
  *
  *  - q_bm25:        Okapi BM25 retrieval scoring (probe queries vs
  *                   corpus) — the lexical scorer behind contamination
  *                   and benchmark-leak hunts
  *  - q_lm_score:    CCNet-style bigram-LM quality scoring (add-1
  *                   smoothed cross-entropy), train + score in two
  *                   exchanges
  *
  *  - q_redact:      PII pattern redaction (emails / IPv4) with per-doc
  *                   redaction counts — the scrubbing step every corpus
  *                   release runs; pure codegen'd regexp expressions
  *  - q_tfidf_pairs: EXACT tf-idf-weighted cosine between documents via
  *                   an inverted-index join (the CCNet-style fuzzy-dedup
  *                   scorer) — sparse dot products as a token equi-join,
  *                   never a dense cross join
  *  - q_dedup_best:  quality-priority dedup survivors (keep the LONGEST
  *                   doc per content fingerprint, not the min id) — the
  *                   keep-best policy production dedup actually uses
  *  - q_outliers:    robust per-group outlier detection (median/MAD
  *                   z-score) over event values — numeric data-quality
  *                   filtering without a learned model
  */
object QueriesExt6 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    QueriesCommon.table(s, dir, name)
  // heavy per-row kernels sit on this one (see QueriesCommon.fannedTable)
  private def ft(s: SparkSession, dir: String, name: String): DataFrame =
    QueriesCommon.fannedTable(s, dir, name)

  // Shared PII patterns: the SAME regex text is valid and equivalent in
  // Java regex (Spark) and RE2 (DuckDB) — character classes, bounded
  // repetition, \b and \d only.
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipPat = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII redaction: synthetic contact lines are appended
    * deterministically (the corpus itself has none, and the gate needs
    * known ground truth), then emails and IPv4s are replaced with
    * placeholder tags and counted. Single scan, zero shuffles before
    * the presentation sort; at 100 TB this is the map-only stage it
    * looks like. */
  private def qRedact(s: SparkSession, dir: String): DataFrame = {
    val withPii = concat(col("text"),
      lit(" contact: user"), col("doc_id").cast("string"),
      lit("@example.com via 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
      lit(".1"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        regexp_count(withPii, lit(emailPat)).as("n_emails"),
        regexp_count(withPii, lit(ipPat)).as("n_ips"),
        regexp_replace(regexp_replace(withPii, emailPat, "<EMAIL>"),
          ipPat, "<IP>").as("redacted"))
      .orderBy("doc_id")
  }

  /** EXACT tf-idf cosine similarity between probe documents (doc_id <
    * 100), scored through an inverted index: weights meet ONLY where a
    * token is shared (one shuffle keyed on the token), so the sparse
    * dot product never materializes the dense pair matrix. Document
    * frequency comes from the FULL corpus (pruned to the probe
    * vocabulary by a broadcast semi-join, as q_tfidf established);
    * norms are per-doc aggregates over all probe-doc terms. At 100 TB
    * the probe set is whatever candidate generation (LSH / df-capped
    * shingles) emitted — this kernel is the exact scorer behind it. */
  private def qTfidfPairs(s: SparkSession, dir: String): DataFrame = {
    // Token text never leaves the map side: every downstream group/join
    // keys on the token, so tokens travel as 8-byte xxhash64 longs (the
    // Dedup.minhashSignatures pattern; the sf0.01 oracle gate groups on
    // the raw text and checks the resulting cosines hash-exactly).
    val toks = ft(s, dir, "documents")
      .select(col("doc_id"),
        explode(QueriesCommon.tokenHashesCol("text")).as("tok"))
    // Corpus size as a plan-time scalar: one footer-count job instead
    // of a broadcast-subquery future whose job would serialize behind
    // the heavy aggregation below.
    val nDocs = t(s, dir, "documents").count()
    // ONE pass over the corpus: reduce postings to per-(tok, doc) tf,
    // then per token keep the corpus document frequency plus the probe
    // docs' postings as an array. Everything downstream (pairs, norms)
    // is probe-vocabulary-sized, so this is the only corpus-scale
    // shuffle in the query — the earlier form paid a probe-vocab
    // broadcast, a token self-join, and two norm joins on top of it.
    // The probe array is bounded by the candidate-set size (|probes| ≤
    // 100 here; at 100 TB whatever LSH emitted), never corpus-sized.
    val pw = toks
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
      .groupBy("tok").agg(
        count(lit(1)).as("df"),
        collect_list(when(col("doc_id") < 100,
          struct(col("doc_id").as("d"), col("tf").as("tf")))).as("ps"))
      .filter(size(col("ps")) > 0)
      .select(expr(
        s"transform(ps, p -> struct(p.d AS d, p.tf * ln(cast($nDocs AS double) / df) AS w))")
        .as("pw"))
    // Pairs materialize inline from each token's probe array — the
    // sparse dot product never becomes a join, let alone a shuffle.
    // The expansion keeps the DIAGONAL (b.d >= a.d): the (x, x) row's
    // sum is exactly Σw² = ‖x‖², so norms fall out of the SAME
    // aggregation as the dots and the one pass over pw feeds
    // everything — no cache barrier, no norm joins. Each side's norm
    // then travels to its pair rows via a window over the pair set
    // (probe-bounded, thousands of rows), and sqrt is applied per
    // side so the denominator is bit-equal to the oracle's nrm_a*nrm_b.
    val wa = Window.partitionBy("da")
    val wb = Window.partitionBy("db")
    pw.select(explode(expr(
        """flatten(transform(pw, a ->
          |  transform(filter(pw, b -> b.d >= a.d), b ->
          |    struct(a.d AS da, b.d AS db, a.w * b.w AS p))))""".stripMargin))
        .as("pr"))
      .groupBy(col("pr.da").as("da"), col("pr.db").as("db"))
      .agg(sum(col("pr.p")).as("dot"))
      .withColumn("na",
        sqrt(max(when(col("da") === col("db"), col("dot"))).over(wa)))
      .withColumn("nb",
        sqrt(max(when(col("da") === col("db"), col("dot"))).over(wb)))
      .filter(col("da") < col("db"))
      .withColumn("cosine", col("dot") / (col("na") * col("nb")))
      .filter(col("cosine") >= 0.3)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("doc_a", "doc_b")
  }

  /** Quality-priority dedup survivors: per content fingerprint keep the
    * LONGEST document (ties → min doc_id) — the keep-best policy (vs
    * q_dedup_survivors' keep-min-id), one window pass over the
    * fingerprint partition. */
  private def qDedupBest(s: SparkSession, dir: String): DataFrame = {
    val wn = Window.partitionBy("fp")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    t(s, dir, "documents")
      .withColumn("fp", md5(substring(col("text"), 1, 40)))
      .withColumn("rn", row_number().over(wn))
      .withColumn("n_dups", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("fp"), col("n_dups"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Robust outlier detection per event type: median/MAD z-score
    * (|value − median| > 3 × 1.4826 × MAD), reported as per-group
    * counts. The median and the median-absolute-deviation are
    * inherently sequential (MAD needs the median), but they don't need
    * JOINS: both run as whole-partition window aggregates over the
    * SAME `event_type` partitioning, so the corpus is exchanged ONCE
    * and the final per-group summary rides that partitioning
    * exchange-free (the r6 form re-joined the corpus against each tiny
    * aggregate — two corpus-scale joins and three exchanges). Exact
    * percentile here; at extreme scale both swap for approx_percentile
    * (mergeable sketch) without changing the shape — and a skewed
    * event_type salts like q_salted_agg. */
  private def qOutliers(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    t(s, dir, "events").select(col("event_type"), col("value"))
      .withColumn("med", expr("percentile(value, 0.5)").over(w))
      .withColumn("dev", abs(col("value") - col("med")))
      .withColumn("mad", expr("percentile(dev, 0.5)").over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("dev") > col("mad") * 3 * 1.4826, 1L).otherwise(0L))
          .as("n_outliers"),
        round(max(col("med")), 6).as("med"),
        round(max(col("mad")), 6).as("mad"))
      .orderBy("event_type")
  }

  /** Id-list subsetting through the explicit bloom prefilter
    * (Scale.bloomSemiJoin): the bloom pass drops ~87% of lineitem
    * before the shuffle toward the exact semi-join, and the trailing
    * semi-join removes false positives — so the result equals the plain
    * `WHERE l_orderkey IN (...)` oracle while the fact-side shuffle at
    * 100 TB carries only the matching slice. Distinct from
    * q_semi_idlist, which measures the un-prefiltered semi-join. */
  private def qBloomSemi(s: SparkSession, dir: String): DataFrame = {
    val urgent = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    graft.ops.Scale.bloomSemiJoin(
        t(s, dir, "lineitem"), col("l_orderkey"),
        urgent, col("o_orderkey"),
        expectedItems = 200000L, fpp = 0.03)
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)")
          .as("sum_price"))
      .orderBy("l_linestatus")
  }

  /** Deterministic weighted sample (Efraimidis–Spirakis priority
    * sampling, IPL 2006): each doc gets key u^(1/w) with u a uniform
    * derived from md5(doc_id) and w = n_chars; the global top-10 keys
    * are a weighted sample without replacement. Like q_split_sample /
    * q_stratified, the draw is a pure function of the id — reproducible
    * across engines, runs, and partitionings — and the top-k is a
    * TakeOrderedAndProject, never a full sort. */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("double") + 1.0) / 65536.0
    val key = pow(u, lit(1.0) / col("n_chars").cast("double"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), key.as("k"))
      .orderBy(col("k").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"), col("n_chars"), round(col("k"), 9).as("priority"))
  }

  /** Bigram language-model scoring — the CCNet-style (Wenzek et al.
    * 2020) perplexity quality filter: score every document by the
    * add-1-smoothed bigram cross-entropy −avg ln P(w₂|w₁) with
    * P(w₂|w₁) = (c(w₁,w₂)+1)/(c(w₁)+V). Here the LM trains on the
    * corpus itself; at 100 TB the count tables come from the clean
    * reference corpus and broadcast. Cross-entropy (not exp'd
    * perplexity) is the output so rounding stays engine-stable.
    *
    * Shape: consecutive pairs come from zipping the token array with
    * its own tail (pure map side — no positional window/sort);
    * ONE exchange on w₁ then serves BOTH count tables as windows
    * (HashPartitioning(w₁) satisfies the (w₁,w₂) clustering, and the
    * (w₁,w₂) sort covers the w₁ frame), so the whole LM — train +
    * score — is two exchanges plus the vocab scalar. */
  private def qLmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = ft(s, dir, "documents")
    // The bigram kernel as ONE codegen'd expression (tokenize + hash +
    // tail-zip fused, expressions/TokenHashExpressions.scala): the
    // interpreted HOF tower it replaces was ~42 s of ~60 s executor
    // CPU at 15.7 GiB even after tokenize-once (LmProbe, round 10).
    // doc_id is a bare reference, so co-selecting it with the explode
    // is ExtractGenerator-safe (nothing non-cheap is lifted above the
    // Generate — the q_bm25 trap).
    val bigrams = docs
      .select(col("doc_id"),
        explode(QueriesCommon.bigramHashesCol("text")).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
    // vocab size as a 1-row broadcast (the +V smoothing denominator)
    val vocab = t(s, dir, "documents")
      .select(explode(QueriesCommon.tokenHashesCol("text")).as("tok"))
      .agg(countDistinct("tok").cast("double").as("v"))
    val cBg = Window.partitionBy("w1", "w2")
    val cHist = Window.partitionBy("w1")
    bigrams.repartition(col("w1"))
      .withColumn("c12", count(lit(1)).over(cBg))
      .withColumn("c1", count(lit(1)).over(cHist))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        avg(-log((col("c12") + 1.0) / (col("c1") + col("v")))).as("nll"))
      .select(col("doc_id"), col("n_bigrams"), round(col("nll"), 6).as("nll"))
      .orderBy("doc_id")
  }

  /** Okapi BM25 retrieval scoring (Robertson et al., TREC-3; the
    * Lucene-practical idf form `ln((N-df+0.5)/(df+0.5)+1)`, k1=1.2,
    * b=0.75): the token sets of probe docs 0-4 act as queries, every
    * corpus doc sharing a token is scored, top-10 per query survive.
    * This is the exact lexical-retrieval scorer a contamination /
    * benchmark-leak hunt runs after candidate generation.
    *
    * Shape (the qTfidfPairs family): document length travels INLINE
    * with each token row (computed from the same text expression at
    * scan time), so the length normalization never becomes a corpus
    * join; a broadcast probe-vocab semi-join prunes the corpus stream
    * BEFORE its one shuffle; df and the probe-hit list then come from
    * windows over the same token partitioning (the repartition makes
    * the grouping and both windows share one exchange). At 100 TB the
    * probe side is whatever candidate generation emitted, and a df-cap
    * (impact pruning / WAND territory) bounds stopword partitions —
    * here the corpus is scored exactly. */
  /** q_bm25's result with the presentation sort applied; the fusion
    * consumer (q_hybrid_rrf) reads `bm25Scores` instead — same rows,
    * no final range exchange. */
  def bm25TopK(s: SparkSession, dir: String): DataFrame =
    bm25Scores(s, dir).orderBy("query_id", "doc_id")

  def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val docs = ft(s, dir, "documents")
    // One codegen'd tokenize+hash pass (TokenXxHashes, round 11): the
    // SQL form ran the interpreted filter/split tower TWICE per doc
    // (size + transform are separate HOF references; no CSE for
    // interpreted lambdas). dl still MUST materialize BELOW the
    // explode: mixing a computed scalar with explode(...) in one
    // select makes ExtractGenerator lift it into the Project ABOVE
    // the Generate with its inputs retained — the tokenizer re-runs
    // PER EXPLODED TOKEN (~dl× per doc; Bm25Probe measured ~330 s of
    // ~345 s CPU at 15.7 GiB before round 10 pinned it). Here dl
    // derives from the materialized array, and the final select
    // carries only bare references through the Generate.
    val toks = docs
      .select(col("doc_id"),
        QueriesCommon.tokenHashesCol("text").as("__harr"))
      .select(col("doc_id"),
        size(col("__harr")).cast("double").as("dl"), col("__harr"))
      .select(col("doc_id"), col("dl"), explode(col("__harr")).as("tok"))
    // probe vocabulary from the pushed-down doc_id<5 scan: tiny read,
    // broadcast, prunes the corpus stream to tokens that can score
    val probeVocab = t(s, dir, "documents").filter(col("doc_id") < 5)
      .select(explode(QueriesCommon.tokenHashesCol("text")).as("tok"))
      .distinct()
    // corpus + doc-count scalars as a 1-row broadcast (single job).
    // Counts-only pass: the TokenCount kernel (r15) replaces sizing the fused
    // hash kernel — same integers (see its proof), no per-token
    // hashing or array allocation in the stats pass.
    val stats = t(s, dir, "documents")
      .select(graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("double").as("dl0"))
      .agg(count(lit(1)).cast("double").as("n"), avg("dl0").as("avgdl"))
    // Round 10 (Bm25Probe at 15.7 GiB, stage metrics: 0.5 GB shuffle,
    // zero spill, ~340 s CPU). Two findings:
    //  - The dominant cost was dl RECOMPUTATION: co-selecting
    //    size(split(text)) with the explode made ExtractGenerator lift
    //    it above the Generate with `text` retained, re-running the
    //    full regex split once PER EXPLODED TOKEN (see the `toks` note
    //    above — pinning dl below the Generate took the query
    //    15.8 s → 5.0 s; interleaved vs DuckDB 2.7× → 1.11×).
    //  - A probe-vocab df-cap (the WAND-ish stopword skip) cut the
    //    scored stream 49M → 9M rows but DIVERGED 50/50 result rows on
    //    this corpus (the ×84 replication inflates every df), so the
    //    cap is rejected — exactness wins.
    // The scoring tail avoids the r9 fan-out as well: the window
    // carries a query BITMASK (≤ 5 probe docs = 5 bits) instead of a
    // collected id set, each (token, doc) row computes its BM25
    // contribution once, and a per-doc aggregate accumulates 5
    // conditional sums — one slot per query, null = no shared token,
    // exactly the pair-existence semantics explode gave; the only
    // explode left is per (doc, query) at the very end, so the flow
    // no longer multiplies with the probe-query count.
    val wTok = Window.partitionBy("tok")
    val contrib = toks.join(broadcast(probeVocab), Seq("tok"), "left_semi")
      .repartition(col("tok")) // grouping + both windows share this
      .groupBy("tok", "doc_id", "dl").agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(wTok).cast("double"))
      .withColumn("qmask", sum(when(col("doc_id") < 5,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(doc_id AS INT))"))
          .otherwise(0L))
        .over(wTok))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("qmask"),
        (log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))).as("w"))
    val slots = (0 until 5).map(qi =>
      sum(when(expr(s"((qmask >> $qi) & 1) = 1"), col("w"))).as(s"s$qi"))
    contrib.groupBy("doc_id").agg(slots.head, slots.tail: _*)
      .select(col("doc_id"), posexplode(
        array((0 until 5).map(i => col(s"s$i")): _*)))
      .filter(col("col").isNotNull)
      .select(col("pos").cast("long").as("query_id"), col("doc_id"),
        col("col").as("score"))
      .withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(round(col("score"), 6).desc, col("doc_id"))))
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("doc_id"),
        round(col("score"), 6).as("bm25"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash every word 3-gram in
    * positional order, slide a window of 4 consecutive hashes, keep
    * each window's minimum; the distinct kept hashes are the document's
    * fingerprint set, with the guarantee that any match of length ≥
    * w+k-1 tokens between two documents shares a fingerprint. Pure
    * window-min over (doc, pos) — one exchange on doc_id, and the
    * ROWS-frame min is streaming (no per-row rescan). Docs shorter than
    * k+w-1 tokens have no full window and drop out (both engines). */
  private def qWinnow(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.winnowFingerprints(
        ft(s, dir, "documents"), "doc_id", "text", k = 3, w = 4)
      .groupBy("doc_id")
      .agg(countDistinct(col("fp")).as("n_fps"), min(col("fp")).as("min_fp"))
      .orderBy("doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lm_score" -> (qLmScore(_, _)),
    "q_bm25" -> (bm25TopK(_, _)),
    "q_winnow" -> (qWinnow(_, _)),
    "q_weighted_sample" -> (qWeightedSample(_, _)),
    "q_redact" -> (qRedact(_, _)),
    "q_tfidf_pairs" -> (qTfidfPairs(_, _)),
    "q_dedup_best" -> (qDedupBest(_, _)),
    "q_outliers" -> (qOutliers(_, _)),
    "q_bloom_semi" -> (qBloomSemi(_, _)))

  val oracleSql: Map[String, String] = Map(
    "q_lm_score" ->
      s"""WITH d AS (SELECT doc_id,
        |    ${TF.tokensOracleSql("lower(text)")} AS toks
        |  FROM documents),
        |bg AS (SELECT doc_id, unnest(list_zip(toks[:-2], toks[2:])) AS p FROM d),
        |b AS (SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM bg),
        |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
        |      FROM (SELECT unnest(toks) AS tok FROM d)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1)
        |SELECT b.doc_id, count(*) AS n_bigrams,
        |  round(avg(-ln((c12.c12 + 1) / (c1.c1 + v.v))), 6) AS nll
        |FROM b JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
        |JOIN c1 ON b.w1 = c1.w1 CROSS JOIN v
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q_bm25" ->
      s"""WITH tok AS (SELECT doc_id, unnest(
        |    ${TF.tokensOracleSql("lower(text)")}) AS tok
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
        |stats AS (SELECT count(*) AS n,
        |    avg(COALESCE(dl.dl, 0)) AS avgdl
        |  FROM documents LEFT JOIN dl USING (doc_id)),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |q AS (SELECT DISTINCT doc_id AS query_id, tok FROM tok
        |      WHERE doc_id < 5),
        |scores AS (SELECT q.query_id, tf.doc_id,
        |    sum(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1)
        |        * tf.tf * 2.2
        |        / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))) AS score
        |  FROM q JOIN tf ON q.tok = tf.tok
        |  JOIN df ON tf.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN stats
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score, row_number() OVER (
        |    PARTITION BY query_id
        |    ORDER BY round(score, 6) DESC, doc_id) AS rn FROM scores)
        |SELECT query_id, doc_id, round(score, 6) AS bm25
        |FROM r WHERE rn <= 10
        |ORDER BY query_id, doc_id""".stripMargin,
    "q_winnow" ->
      s"""WITH b AS (SELECT doc_id,
        |    ${TF.tokensOracleSql("lower(text)")} AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, len(toks) - 2 AS ng,
        |    generate_subscripts(grams, 1) - 1 AS pos, unnest(grams) AS gram
        |  FROM (SELECT doc_id, toks,
        |          list_transform(range(1, len(toks) - 1),
        |            i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS grams
        |        FROM b WHERE len(toks) >= 6)),
        |w AS (SELECT doc_id, ng, pos,
        |    min(md5(gram)) OVER (PARTITION BY doc_id ORDER BY pos
        |                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM g)
        |SELECT doc_id, count(DISTINCT fp) AS n_fps, min(fp) AS min_fp
        |FROM w WHERE pos <= ng - 4
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_weighted_sample" ->
      """WITH b AS (SELECT doc_id, n_chars,
        |    ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096 +
        |     (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256 +
        |     (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16 +
        |     (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) + 1)
        |      / 65536.0 AS u
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  round(pow(u, 1.0 / n_chars), 9) AS priority
        |FROM b ORDER BY pow(u, 1.0 / n_chars) DESC, doc_id LIMIT 10""".stripMargin,
    "q_bloom_semi" ->
      """SELECT l_linestatus, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q_redact" ->
      """WITH p AS (SELECT doc_id,
        |    text || ' contact: user' || doc_id || '@example.com via 10.0.'
        |         || (doc_id % 256) || '.1' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
        |  regexp_replace(
        |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS redacted
        |FROM p ORDER BY doc_id""".stripMargin,
    "q_tfidf_pairs" ->
      s"""WITH tok AS (SELECT doc_id, unnest(
        |    ${TF.tokensOracleSql("lower(text)")}) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
        |       WHERE doc_id < 100 GROUP BY 1, 2),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |w AS (SELECT tf.doc_id, tf.tok,
        |        tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) AS w
        |      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n),
        |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
        |dots AS (SELECT a.doc_id AS da, b.doc_id AS db, sum(a.w * b.w) AS dot
        |         FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b,
        |  round(dot / (x.nrm * y.nrm), 6) AS cosine
        |FROM dots JOIN nrm x ON x.doc_id = da JOIN nrm y ON y.doc_id = db
        |WHERE dot / (x.nrm * y.nrm) >= 0.3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_best" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |    md5(substr(text, 1, 40)) AS fp FROM documents),
        |r AS (SELECT doc_id, fp, n_chars,
        |    row_number() OVER (PARTITION BY fp
        |      ORDER BY n_chars DESC, doc_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY fp) AS n_dups
        |  FROM d)
        |SELECT doc_id, fp, n_dups, n_chars FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    "q_outliers" ->
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |             FROM events GROUP BY 1),
        |dev AS (SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
        |        FROM events e JOIN med m ON e.event_type = m.event_type),
        |mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
        |        FROM dev GROUP BY 1)
        |SELECT d.event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN d.dev > a.mad * 3 * 1.4826 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(max(d.med), 6) AS med, round(max(a.mad), 6) AS mad
        |FROM dev d JOIN mad a ON d.event_type = a.event_type
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin)
}
