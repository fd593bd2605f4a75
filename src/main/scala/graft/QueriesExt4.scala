package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.ops.RangeJoin
import graft.similarity.Pq
import graft.functions.{TextFunctions => TF}

/** Round-3 query additions: range/interval join, multi-dimensional
  * aggregation (cube, pivot), exact statistical aggregates, an
  * oracle-expressible MinHash, and PQ-compressed ANN. Same contract as
  * the other Queries files: every SQL-expressible query has a DuckDB
  * oracle over the identical parquet tables, money/stat aggregates run
  * in DECIMAL before the final double cast, and every query ends in a
  * total ORDER BY. */
object QueriesExt4 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    QueriesCommon.table(s, dir, name)

  /** Build-once-search-many materialization of an ANN index's encoded
    * table. LAZY persist, not the r13 eager `localCheckpoint(true)`:
    * the checkpoint ran the encode as its own up-front job and
    * serialized every partition before the search could start, where
    * the persist fills inside the first consuming pass — same barrier
    * semantics (searchRerank's two encoded consumers share one
    * computation via the BlockManager's per-partition locking), one
    * fewer serial job. r15 A/B over the 7-query ANN family at sf0.1,
    * two interleaved windows, min per mode: lc 4.58 s / persist 4.03 s
    * / no-barrier 4.06 s — and no-barrier both re-encodes per consumer
    * (wrong at scale for the rerank route) and drops the
    * index-at-rest modeling, so persist wins on both counts.
    *
    * Lifecycle (same contract as Curation.dedupBarrier): the persisted
    * relation stays registered in the session's CacheManager for the
    * frame's lifetime — a query builder cannot know when its caller's
    * action is done. Drivers that run many queries on one session
    * (`graft.Bench`, QueryOnce) `clearCache()` between timed runs,
    * both for hygiene and so the next logically-equal plan re-pays the
    * build its DuckDB twin re-pays. */
  private[graft] def matEncoded(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Interval join (SURVEY §7.5 extension): events land in the ±3-day
    * windows around the 20 peak-traffic days (busiest by event count).
    * A bare inequality join would plan as BroadcastNestedLoop (O(n·m)
    * at corpus scale); `RangeJoin.intervalJoin` re-expresses it as a
    * bucket equi-join — hash-partitioned and skew-splittable — with
    * exact containment as a post-filter.
    *
    * Aggregation is PUSHED BELOW the join: the query consumes only
    * day-level facts (counts, day extents), so the corpus collapses to
    * the ~|days| `daily` table first and the interval join runs on
    * THAT — n_events becomes sum(n) over the window's days. `daily`
    * is materialized once (eager localCheckpoint of a ~|days|-row
    * table) so its two consumers — the top-20 window derivation and
    * the points side — share ONE corpus scan; exchange reuse can't do
    * it here because the points side's pushed isnotnull(day) makes
    * the canonical subtrees differ. (The r6 form scanned events twice
    * and bucket-joined 20 windows against every EVENT row instead of
    * every day row.) */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(QueriesCommon.eventDay(raw).as("day"))
    val daily = ev.groupBy("day").agg(count(lit(1)).as("n"))
      // EAGER on purpose (r15 A/B): unlike the CC rounds — where a
      // checksum job immediately follows and absorbs a lazy store —
      // daily's two consumers live in ONE final job, and the lazy form
      // measured ~0.7 → ~1.0 s (each consumer re-derives the agg before
      // the deferred store lands); the eager pass IS the sharing here
      .localCheckpoint(true)
    // busy is ≤20 rows by construction, but an explicit broadcast hint
    // was MEASURED SLOWER here below the size gate: the broadcast build
    // serializes into its own job (agg + collect barrier) where the
    // un-hinted bucket equi-join keeps everything one pipelined DAG;
    // at scale AQE converts the tiny side to a broadcast at runtime
    val busy = daily.orderBy(col("n").desc, col("day")).limit(20)
      .select(col("day").as("window_day"),
        (col("day") - 3).as("lo"), (col("day") + 3).as("hi"))
    RangeJoin.intervalJoin(daily, "day", busy, "lo", "hi", bucketWidth = 7L)
      .groupBy("window_day")
      .agg(sum(col("n")).as("n_events"),
        min(col("day")).as("min_day"), max(col("day")).as("max_day"))
      .orderBy("window_day")
  }

  /** Multi-dimensional aggregation: CUBE over (returnflag, linestatus)
    * — grand total, both margins, and the full cross, in ONE pass with
    * partial aggregation (Catalyst Expand + hash agg). DECIMAL sums
    * for engine-exact money totals. */
  private def qCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)").as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))
      .orderBy("rf", "ls")

  /** Pivot: order counts per year × priority. The priority values are
    * DECLARED (no discovery pass over the data — at 100 TB the
    * two-job `pivot(col)` overload is the wrong default), yielding a
    * single hash aggregate with one output column per priority. */
  private def qPivot(s: SparkSession, dir: String): DataFrame = {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val pivoted = t(s, dir, "orders")
      .groupBy(year(to_date(col("o_orderdate"))).as("yr"))
      .pivot("o_orderpriority", prios)
      .agg(count(lit(1)))
    prios.zipWithIndex.foldLeft(pivoted) { case (df, (p, i)) =>
        df.withColumn(s"p${i + 1}", coalesce(col(s"`$p`"), lit(0L))).drop(p)
      }
      .orderBy("yr")
  }

  /** Exact Pearson correlation + sample covariance per return flag,
    * assembled from DECIMAL power sums (one pass, engine-exact inputs;
    * the final arithmetic is IEEE-double identical across engines —
    * never the order-dependent streaming corr). */
  private def qCorr(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)").as("sx"),
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)").as("sy"),
        expr("CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)").as("sxy"),
        expr("CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)").as("sxx"),
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)").as("syy"))
      .select(col("l_returnflag"), col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * (col("n") - 1))).as("covar"))
      .orderBy("l_returnflag")

  /** Fixed-width histogram of order totals (30 × 20k buckets, top
    * bucket open). Pure floor-div bucketing — identical IEEE division
    * in both engines, one hash aggregate. */
  private def qHistogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(least(floor(col("o_totalprice") / 20000), lit(29L)).cast("int").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  /** MinHash through an engine-neutral hash (md5 over "i:shingle"), so
    * the signature CONSTRUCTION itself — shingling, per-permutation
    * min — sits behind the DuckDB hash-match gate (the xxhash64
    * production path, `q_minhash_lsh`, has no SQL-side hash to compare
    * against). Lexicographic min over hex strings standing in for the
    * numeric min. */
  private def qMinhashOracle(s: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingleRows(t(s, dir, "documents"), "doc_id", "text", 3)
    val aggs = (0 until 8).map(i =>
      min(md5(concat(lit(s"$i:"), col("sh")))).as(s"mh$i"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .orderBy("doc_id")
  }

  /** RANGE-frame window: trailing-7-day order revenue per customer —
    * the frame is bounded by VALUE distance (day − 6 .. day), not row
    * count, so gaps in the order history are handled correctly. One
    * exchange on the partition key; the running frame is computed
    * streamingly per partition. */
  private def qRollingRange(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("day")
      .rangeBetween(-6, org.apache.spark.sql.expressions.Window.currentRow)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).cast("long").as("day"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      .select(col("o_orderkey"), col("o_custkey"), col("day"),
        sum(col("price")).over(w).cast("double").as("rev_7d"),
        count(lit(1)).over(w).as("n_7d"))
      .orderBy("o_orderkey")
  }

  /** INTERSECT set operation (O-algebra completion next to except/
    * union): order keys that are both urgent and had a returned item.
    * Spelled directly as semi-join + distinct (INTERSECT-distinct
    * semantics) on the SAME route-dependent spine as q_except_ids
    * (`QueriesExt2.idSetOp` — bucketed zero-exchange zipper when the
    * layouts exist, merge-hinted shuffled SMJ otherwise; see the
    * round-12 stage-split notes there). */
  private def qIntersectIds(s: SparkSession, dir: String): DataFrame =
    QueriesExt2.idSetOp(s, dir, "left_semi")

  /** SimHash through an engine-neutral hash: a 16-bit simhash built
    * from md5 nibbles, so the CONSTRUCTION (tokenize → per-bit vote →
    * sign reassembly) is hash-match gated cross-engine (the 64-bit
    * xxhash production path is `q_simhash`, rows-only). Token
    * multiplicity counts, like the production kernel. */
  private def qSimhashOracle(s: SparkSession, dir: String): DataFrame =
    md5Simhash16(t(s, dir, "documents")).orderBy("doc_id")

  /** The (doc_id, simhash16) table behind q_simhash_oracle; shared with
    * QueriesExt5's banded-pair query so both gates see one construction. */
  private[graft] def md5Simhash16(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(QueriesCommon.toksExpr).as("tok"))
      .withColumn("hx", substring(md5(col("tok")), 1, 4))
    val votes = (0 until 16).map { j =>
      sum(expr(
        s"CASE WHEN (shiftright(instr('0123456789abcdef', substring(hx, ${j / 4 + 1}, 1)) - 1, ${3 - j % 4}) & 1) = 1 THEN 1 ELSE -1 END"))
        .as(s"s$j")
    }
    val sh = tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(j =>
          expr(s"CASE WHEN s$j > 0 THEN ${1 << (15 - j)} ELSE 0 END"))
          .reduce(_ + _).cast("bigint").as("simhash16"))
    docs.select("doc_id").join(sh, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("simhash16"), lit(0L)).as("simhash16"))
  }

  /** PQ-compressed ANN (SURVEY §7.5 scale path): 64-d float vectors
    * become 8 nibble codes (32× compression); ADC scores candidates
    * with 8 table lookups each. K-means codebooks → rows-only check
    * (not SQL-expressible); PqSpec gates recall against exact L2. */
  private def qAnnPq(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val index = Pq.build(e, "vec_id", "embedding", dim = 64, m = 8, ksub = 16,
      seed = 42L, maxIter = 5, trainCap = 4096)
    // materialize the encoded index before probing — build-once,
    // search-many is the operator's real usage (at rest this is the
    // partitionBy(list_id) parquet write); without it the search scan
    // re-encodes the corpus
    val mat = index.copy(encoded = QueriesExt4.matEncoded(index.encoded))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Pq.search(mat, q, k = 5)
      .withColumn("adc", round(col("adc"), 6))
      .orderBy("q_id", "vec_id")
  }

  /** IVF-PQ composition (FAISS `IVF8,PQ8`-style): coarse lists prune
    * the scan to nprobe/nlist of the corpus, PQ codes shrink the
    * resident index 32×. Rows-only (k-means); IvfPqSpec gates it
    * against full-PQ and cluster containment. */
  private def qAnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val index = graft.similarity.IvfPq.build(e, "vec_id", "embedding",
      dim = 64, nlist = 8, m = 8, ksub = 16, seed = 42L, maxIter = 5,
      sampleFraction = 0.5, trainCap = 4096)
    // build-once, search-many (see qAnnPq)
    val mat = index.copy(encoded = QueriesExt4.matEncoded(index.encoded))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    graft.similarity.IvfPq.search(mat, q, k = 5, nprobe = 2)
      .withColumn("adc", round(col("adc"), 6))
      .orderBy("q_id", "vec_id")
  }

  /** Production refine route (FAISS `refine`): the k-means IVFADC
    * index at k·4 candidates, exact-l2 re-ranked to top-5 — the
    * recall fix for PQ's lossy codes (recall dial in
    * recall_r9_sf01.txt). no_oracle by design (k-means training);
    * the composed route is hash-gated by its md5-seeded sibling
    * q_ann_ivfpq_rerank_oracle. */
  private def qAnnIvfPqRerank(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val index = graft.similarity.IvfPq.build(e, "vec_id", "embedding",
      dim = 64, nlist = 8, m = 8, ksub = 16, seed = 42L, maxIter = 5,
      sampleFraction = 0.5, trainCap = 4096)
    val mat = index.copy(encoded = QueriesExt4.matEncoded(index.encoded))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    graft.similarity.IvfPq.searchRerank(mat, q, k = 5, nprobe = 2)
      .withColumn("exact", round(col("exact"), 6))
      .orderBy("q_id", "vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_ivfpq" -> (qAnnIvfPq(_, _)),
    "q_ann_ivfpq_rerank" -> (qAnnIvfPqRerank(_, _)),
    "q_range_join" -> (qRangeJoin(_, _)),
    "q_cube" -> (qCube(_, _)),
    "q_pivot" -> (qPivot(_, _)),
    "q_corr" -> (qCorr(_, _)),
    "q_histogram" -> (qHistogram(_, _)),
    "q_minhash_oracle" -> (qMinhashOracle(_, _)),
    "q_simhash_oracle" -> (qSimhashOracle(_, _)),
    "q_rolling_range" -> (qRollingRange(_, _)),
    "q_intersect_ids" -> (qIntersectIds(_, _)),
    "q_ann_pq" -> (qAnnPq(_, _)))

  /** Shared md5-simhash16 CTE chain ending in `fp(doc_id, simhash16)`;
    * used by q_simhash_oracle here and q_simhash_pairs (QueriesExt5) so
    * both gates run one construction. */
  private[graft] val simhash16Cte: String =
    s"""tok AS (SELECT doc_id, unnest(
      |    ${TF.tokensOracleSql("lower(text)")}) AS tok
      |  FROM documents),
      |h AS (SELECT doc_id, substr(md5(tok), 1, 4) AS hx
      |      FROM tok),
      |b AS (SELECT doc_id, j,
      |    CASE WHEN ((instr('0123456789abcdef', substr(hx, (j // 4) + 1, 1)) - 1)
      |               >> (3 - (j % 4))) & 1 = 1 THEN 1 ELSE -1 END AS vote
      |  FROM h CROSS JOIN (SELECT unnest(range(16)) AS j)),
      |v AS (SELECT doc_id, j, sum(vote) AS s FROM b GROUP BY 1, 2),
      |sh AS (SELECT doc_id,
      |    sum(CASE WHEN s > 0 THEN 1 << (15 - j) ELSE 0 END) AS simhash16
      |  FROM v GROUP BY 1),
      |fp AS (SELECT d.doc_id, CAST(coalesce(sh.simhash16, 0) AS BIGINT) AS simhash16
      |       FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_range_join" ->
      """WITH ev AS (SELECT event_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day FROM events),
        |daily AS (SELECT day, count(*) AS n FROM ev GROUP BY 1),
        |busy AS (SELECT day AS window_day, day - 3 AS lo, day + 3 AS hi
        |         FROM daily ORDER BY n DESC, day LIMIT 20)
        |SELECT window_day, count(*) AS n_events,
        |  min(ev.day) AS min_day, max(ev.day) AS max_day
        |FROM busy JOIN ev ON ev.day BETWEEN lo AND hi
        |GROUP BY window_day ORDER BY window_day""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  count(*) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q_pivot" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS p1,
        |  count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS p2,
        |  count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS p3,
        |  count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS p4,
        |  count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS p5
        |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin,
    "q_corr" ->
      """WITH s AS (SELECT l_returnflag, count(*) AS n,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sxy,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxx,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr,
        |  (n * sxy - sx * sy) / (n * (n - 1)) AS covar
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(least(floor(o_totalprice / 20000), 29) AS INTEGER) AS bucket,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_rolling_range" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, day,
        |  CAST(sum(price) OVER w AS DOUBLE) AS rev_7d,
        |  count(*) OVER w AS n_7d
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "q_intersect_ids" ->
      """SELECT o_orderkey AS id FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT
        |SELECT l_orderkey AS id FROM lineitem WHERE l_returnflag = 'R'
        |ORDER BY id""".stripMargin,
    "q_simhash_oracle" ->
      s"""WITH $simhash16Cte
        |SELECT doc_id, simhash16 FROM fp ORDER BY doc_id""".stripMargin,
    "q_minhash_oracle" ->
      s"""WITH b AS (SELECT doc_id,
        |    ${TF.tokensOracleSql("lower(text)")} AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |                i -> array_to_string(toks[i:i+2], ' '))) END AS s
        |  FROM b),
        |ex AS (SELECT doc_id, unnest(s) AS sh FROM sh)
        |SELECT doc_id,
        |  min(md5('0:' || sh)) AS mh0, min(md5('1:' || sh)) AS mh1,
        |  min(md5('2:' || sh)) AS mh2, min(md5('3:' || sh)) AS mh3,
        |  min(md5('4:' || sh)) AS mh4, min(md5('5:' || sh)) AS mh5,
        |  min(md5('6:' || sh)) AS mh6, min(md5('7:' || sh)) AS mh7
        |FROM ex GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
