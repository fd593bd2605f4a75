package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, DupClusters}
import graft.ops.{AsofJoin, Profiling, Sessions}
import graft.functions.{TextFunctions => TF}

/** Batch 4 of the driver-contract queries: graph/temporal/profiling
  * operators a large-scale training-data pipeline needs on top of the
  * reference's ETL surface (SURVEY §7.5) — duplicate-cluster connected
  * components, gap sessionization, as-of join, one-pass column
  * profiling. Every query here is DuckDB-oracle-backed (the CC oracle
  * is a recursive CTE computing the same transitive closure). */
object QueriesExt3 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    QueriesCommon.table(s, dir, name)
  // heavy per-row kernels sit on this one (see QueriesCommon.fannedTable)
  private def ft(s: SparkSession, dir: String, name: String): DataFrame =
    QueriesCommon.fannedTable(s, dir, name)

  /** Duplicate clusters: transitive closure of the n-gram Jaccard
    * near-dup pairs (the oracle-checked edge generator of
    * `q_ngram_jaccard`), assigned via large-star/small-star connected
    * components; every document gets its cluster's min doc_id. */
  private def qDupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(ft(s, dir, "documents"), "doc_id", "text",
      k = 3, dfCap = 10, threshold = 0.1)
    val comp = DupClusters.connectedComponents(pairs, "doc_a", "doc_b")
    docs.select("doc_id")
      .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .orderBy("doc_id")
  }

  /** Gap sessionization of the event stream (4 h inactivity gap),
    * summarized per session. ts is read through the schema-sniffing
    * micros accessor (QueriesCommon.eventTsMicros) so the query is
    * exact under both testdata ts encodings; emitted as epoch micros
    * to match DuckDB's `epoch_us(ts)`. */
  private def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val e = raw.select(col("user_id"), col("event_id"),
      QueriesCommon.eventTsMicros(raw).as("tus"))
    Sessions.sessionStats(e, "user_id", "tus",
        gap = 4L * 3600 * 1000000, tieBreak = Seq("event_id"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("start_ts").as("start_us"), col("end_ts").as("end_us"))
      .orderBy("user_id", "session_id")
  }

  /** As-of join: each event picks up the customer's most recent order
    * activity (orders pre-aggregated per (custkey, day) so the match
    * is unique ⇒ deterministic). One shuffle + one window pass — no
    * inequality-join candidate explosion. */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val events = raw.select(col("event_id"), col("user_id"),
      date_from_unix_date(QueriesCommon.eventDay(raw).cast("int"))
        .as("event_date"))
    val orders = t(s, dir, "orders")
      .groupBy(col("o_custkey"), to_date(col("o_orderdate")).as("od"))
      .agg(count(lit(1)).as("n_orders"), max(col("o_totalprice")).as("top_price"))
    AsofJoin.asofBackward(events, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "event_date", rightTime = "od")
      .withColumnRenamed("od", "last_order_date")
      .orderBy("event_id")
  }

  /** The same as-of join through the native Catalyst operator
    * (`plans.AsofJoinNative`: custom LogicalPlan + Strategy +
    * streaming merge SparkPlan) — oracle-checked against the identical
    * DuckDB ASOF JOIN, so the custom physical operator itself sits
    * behind the correctness gate.
    *
    * The rollup is written partitioning-aware: `repartition(custkey)`
    * BEFORE the groupBy puts the aggregation on the same hash
    * partitioning the as-of's right side requires, so the rollup and
    * the merge share ONE exchange (EnsureRequirements inserts none for
    * the right child — AsofJoinNativeSpec asserts it). This is the
    * native node's structural advantage: it declares its clustering
    * requirement, so upstream partitioning is reusable; the
    * union+window form must re-shuffle the union whatever the inputs'
    * layout. Trade: the shuffle carries raw order rows instead of the
    * (custkey, day) rollup — map-side combine is given up for one
    * fewer exchange, the right call when the rollup ratio is modest
    * (~10:1 here) and the right answer either way at 100 TB only if
    * the as-of's key partitioning is reused, as it is here. */
  private def qAsofNative(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val events = raw.select(col("event_id"), col("user_id"),
      date_from_unix_date(QueriesCommon.eventDay(raw).cast("int"))
        .as("event_date"))
    val orders = t(s, dir, "orders")
      .repartition(col("o_custkey"))
      .groupBy(col("o_custkey"), to_date(col("o_orderdate")).as("od"))
      .agg(count(lit(1)).as("n_orders"), max(col("o_totalprice")).as("top_price"))
    graft.plans.AsofJoinNative.asof(events, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "event_date", rightTime = "od")
      .withColumnRenamed("od", "last_order_date")
      .orderBy("event_id")
  }

  /** As-of join through the broadcast binary-search path, in its
    * actual regime: the right side is a per-(customer, month) rollup —
    * dimension-sized — so the event corpus joins with ZERO shuffle
    * (the plan has no Exchange before the sort; SessionsAsofSpec
    * asserts it). */
  private def qAsofBroadcast(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val events = raw.select(col("event_id"), col("user_id"),
      date_from_unix_date(QueriesCommon.eventDay(raw).cast("int"))
        .as("event_date"))
    val orders = t(s, dir, "orders")
      .groupBy(col("o_custkey"), trunc(col("o_orderdate"), "month").as("om"))
      .agg(count(lit(1)).as("n_orders"), max(col("o_totalprice")).as("top_price"))
    AsofJoin.asofBackwardBroadcast(events, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "event_date", rightTime = "om")
      .withColumnRenamed("om", "last_order_month")
      .orderBy("event_id")
  }

  /** Window analytics: quartile assignment (ntile) of order totals per
    * priority + running DECIMAL-exact cumulative revenue per customer.
    * Single exchange per window key; ntile and the running sum share
    * Spark/DuckDB semantics exactly. */
  private def qNtile(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).as("quartile"))
      .orderBy("o_orderkey")
  }

  private def qRunningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("running_total"))
      .orderBy("o_orderkey")
  }

  /** One-pass numeric column profiling of lineitem (count / nulls /
    * distinct / min / max per column). */
  private def qProfile(s: SparkSession, dir: String): DataFrame =
    Profiling.numericProfile(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .orderBy("col_name")

  /** Deterministic train/val/test split: the assignment is a pure
    * function of the id (md5 bucket 0..255), so it is reproducible
    * across runs, engines, and cluster sizes — what a training
    * pipeline needs from a split (Spark's `randomSplit` is
    * partitioning-dependent and would not be). ~90/5/5. */
  private def qSplitSample(s: SparkSession, dir: String): DataFrame = {
    // the codegen'd digest-byte coin; value-identical to the oracle's
    // instr-hex idiom (expressions/SamplingExpressions)
    val bucket = graft.ops.Mixture.bucket("doc_id")
    t(s, dir, "documents")
      .withColumn("split",
        when(bucket < 230, lit("train")).when(bucket < 243, lit("val"))
          .otherwise(lit("test")))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("split")
  }

  /** Per-label embedding centroids in long format (label, dim, n,
    * centroid). posexplode + partial-aggregated avg: one shuffle on
    * (label, dim) — at 100 TB prefer `VectorExpressions` elementwise
    * sum into fixed-width arrays to avoid the ×dims row expansion. */
  private def qCentroids(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"), avg(col("col").cast("double")).as("centroid"))
      .orderBy("label", "pos")

  /** Deterministic stratified sample: per language, the 3 documents
    * with the smallest md5(doc_id) — uniform-at-random in expectation
    * yet reproducible across engines, runs, and partitionings (unlike
    * `df.stat.sampleBy`, whose RNG is partitioning-dependent). */
  private def qStratified(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(graft.ops.Mixture.orderKey("doc_id").asc, col("doc_id").asc)
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("lang", "rn")
  }

  /** Contamination check: corpus docs sharing >= 3 trigram shingles
    * with a small probe set (docs 0-4 standing in for an eval
    * benchmark). Self-matches excluded. */
  private def qContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val probes = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("pid"), col("text").as("ptext"))
    Dedup.contaminationPairs(ft(s, dir, "documents"), "doc_id", "text",
        probes, "pid", "ptext", k = 3, minShared = 3L)
      .filter(col("doc_id") =!= col("probe_id"))
      .orderBy("doc_id", "probe_id")
  }

  /** Corpus vocabulary: top tokens by total occurrences (tie-broken by
    * token), with document frequency — the Zipf table every text
    * pipeline starts from. Explode → two-level agg; the heavy shuffle
    * keys on the token, never on documents. */
  private def qVocab(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(expr(QueriesCommon.toksSql)).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("occurrences"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("occurrences").desc, col("tok").asc)
      .limit(40)

  /** TF-IDF weights for the first 10 documents' tokens (classic
    * ln(N/df) idf). Corpus stats (df, N) compute once over the full
    * corpus — shuffles key on token, never on documents — then attach
    * to per-doc term frequencies by a broadcast-friendly join. Output
    * is value-compared (no rank cutoff), so float ulp differences
    * between engines can't reorder rows. */
  private def qTfidf(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(expr(QueriesCommon.toksSql)).as("tok"))
    val tf = toks.filter(col("doc_id") < 10)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // The inner join on tok discards every corpus token absent from the
    // probed docs, so filter BEFORE the heavy distinct-aggregate: semi-
    // join the corpus tokens to the (small, broadcastable) probe vocab
    // and only shuffle (tok, doc_id) pairs that can survive. At 100 TB
    // this turns a full-vocabulary shuffle into a probe-sized one.
    val df = toks
      .join(broadcast(tf.select("tok").distinct()), Seq("tok"), "left_semi")
      .groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
    // Corpus size as a broadcast 1-row aggregate, not a driver count()
    // action — keeps the query a single job.
    val n = t(s, dir, "documents").agg(count(lit(1)).as("__n"))
    tf.join(df, "tok").crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        (col("tf") * log(col("__n").cast("double") / col("df"))).as("tfidf"))
      .orderBy("doc_id", "tok")
  }

  /** Exact interpolated percentiles of document length per language
    * (Spark `percentile` and DuckDB `quantile_cont` share the linear-
    * interpolation definition). Exact percentile shuffles all values
    * per group; at extreme scale swap for `approx_percentile`
    * (KLL/GK sketch, mergeable map-side). */
  private def qPercentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        expr("percentile(n_chars, 0.25)").as("p25"),
        expr("percentile(n_chars, 0.5)").as("p50"),
        expr("percentile(n_chars, 0.9)").as("p90"))
      .orderBy("lang")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dup_clusters" -> (qDupClusters(_, _)),
    "q_sessionize" -> (qSessionize(_, _)),
    "q_asof_join" -> (qAsofJoin(_, _)),
    "q_asof_native" -> (qAsofNative(_, _)),
    "q_asof_broadcast" -> (qAsofBroadcast(_, _)),
    "q_ntile" -> (qNtile(_, _)),
    "q_running_total" -> (qRunningTotal(_, _)),
    "q_profile" -> (qProfile(_, _)),
    "q_split_sample" -> (qSplitSample(_, _)),
    "q_centroids" -> (qCentroids(_, _)),
    "q_percentiles" -> (qPercentiles(_, _)),
    "q_contamination" -> (qContamination(_, _)),
    "q_vocab" -> (qVocab(_, _)),
    "q_stratified" -> (qStratified(_, _)),
    "q_tfidf" -> (qTfidf(_, _)))

  val oracleSql: Map[String, String] = Map(
    "q_dup_clusters" ->
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
        |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
        |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
        |FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        |m AS (SELECT user_id, event_id, tus,
        |    CASE WHEN lag(tus) OVER w IS NULL
        |              OR tus - lag(tus) OVER w > 14400000000 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (SELECT user_id, tus,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                           ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
        |  FROM m)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(tus) AS start_us, max(tus) AS end_us
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, CAST(ts AS DATE) AS event_date FROM events),
        |r AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
        |        count(*) AS n_orders, max(o_totalprice) AS top_price
        |      FROM orders GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.event_date,
        |  r.od AS last_order_date, r.n_orders, r.top_price
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.o_custkey AND l.event_date >= r.od
        |ORDER BY event_id""".stripMargin,
    "q_asof_native" ->
      """WITH l AS (SELECT event_id, user_id, CAST(ts AS DATE) AS event_date FROM events),
        |r AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
        |        count(*) AS n_orders, max(o_totalprice) AS top_price
        |      FROM orders GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.event_date,
        |  r.od AS last_order_date, r.n_orders, r.top_price
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.o_custkey AND l.event_date >= r.od
        |ORDER BY event_id""".stripMargin,
    "q_asof_broadcast" ->
      """WITH l AS (SELECT event_id, user_id, CAST(ts AS DATE) AS event_date FROM events),
        |r AS (SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS om,
        |        count(*) AS n_orders, max(o_totalprice) AS top_price
        |      FROM orders GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.event_date,
        |  r.om AS last_order_month, r.n_orders, r.top_price
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.o_custkey AND l.event_date >= r.om
        |ORDER BY event_id""".stripMargin,
    "q_ntile" ->
      """SELECT o_orderkey, o_orderpriority,
        |  ntile(4) OVER (PARTITION BY o_orderpriority
        |                 ORDER BY o_totalprice, o_orderkey) AS quartile
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_running_total" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_split_sample" ->
      """WITH b AS (SELECT *,
        |    (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16
        |    + instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 230 THEN 'train' WHEN bucket < 243 THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM b GROUP BY split ORDER BY split""".stripMargin,
    "q_centroids" ->
      """SELECT label, pos, count(*) AS n, avg(CAST(e AS DOUBLE)) AS centroid
        |FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
        |        UNNEST(embedding) AS e
        |      FROM embeddings)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    "q_contamination" ->
      s"""WITH b AS (SELECT doc_id,
        |    ${TF.tokensOracleSql("lower(text)")} AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |                i -> array_to_string(toks[i:i+2], ' '))) END AS s
        |  FROM b),
        |ex AS (SELECT doc_id, unnest(s) AS sh FROM sh),
        |pex AS (SELECT doc_id AS probe_id, sh FROM ex WHERE doc_id < 5),
        |j AS (SELECT e.doc_id, p.probe_id, count(*) AS shared
        |      FROM ex e JOIN pex p ON e.sh = p.sh GROUP BY 1, 2)
        |SELECT doc_id, probe_id, shared FROM j
        |WHERE shared >= 3 AND doc_id <> probe_id
        |ORDER BY doc_id, probe_id""".stripMargin,
    "q_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest(
        |    ${TF.tokensOracleSql("lower(text)")}) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
        |       WHERE doc_id < 10 GROUP BY 1, 2),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |  tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) AS tfidf
        |FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
        |ORDER BY tf.doc_id, tf.tok""".stripMargin,
    "q_stratified" ->
      """SELECT doc_id, lang, rn FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 3 ORDER BY lang, rn""".stripMargin,
    "q_vocab" ->
      s"""WITH tok AS (SELECT doc_id, unnest(
        |    ${TF.tokensOracleSql("lower(text)")}) AS tok
        |  FROM documents)
        |SELECT tok, count(*) AS occurrences, count(DISTINCT doc_id) AS doc_freq
        |FROM tok GROUP BY tok
        |ORDER BY occurrences DESC, tok ASC LIMIT 40""".stripMargin,
    "q_percentiles" ->
      """SELECT lang, count(*) AS n,
        |  quantile_cont(n_chars, 0.25) AS p25,
        |  quantile_cont(n_chars, 0.5) AS p50,
        |  quantile_cont(n_chars, 0.9) AS p90
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_profile" ->
      """SELECT * FROM (
        |  SELECT 'l_orderkey' AS col_name, count(l_orderkey) AS n,
        |    count(*) - count(l_orderkey) AS n_null, count(DISTINCT l_orderkey) AS n_distinct,
        |    CAST(min(l_orderkey) AS DOUBLE) AS min_v, CAST(max(l_orderkey) AS DOUBLE) AS max_v
        |  FROM lineitem
        |  UNION ALL SELECT 'l_quantity', count(l_quantity), count(*) - count(l_quantity),
        |    count(DISTINCT l_quantity), CAST(min(l_quantity) AS DOUBLE), CAST(max(l_quantity) AS DOUBLE)
        |  FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', count(l_extendedprice), count(*) - count(l_extendedprice),
        |    count(DISTINCT l_extendedprice), CAST(min(l_extendedprice) AS DOUBLE), CAST(max(l_extendedprice) AS DOUBLE)
        |  FROM lineitem
        |  UNION ALL SELECT 'l_discount', count(l_discount), count(*) - count(l_discount),
        |    count(DISTINCT l_discount), CAST(min(l_discount) AS DOUBLE), CAST(max(l_discount) AS DOUBLE)
        |  FROM lineitem
        |  UNION ALL SELECT 'l_tax', count(l_tax), count(*) - count(l_tax),
        |    count(DISTINCT l_tax), CAST(min(l_tax) AS DOUBLE), CAST(max(l_tax) AS DOUBLE)
        |  FROM lineitem)
        |ORDER BY col_name""".stripMargin)
}
