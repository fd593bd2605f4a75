package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{CleaningFunctions => CF, TextFunctions => TF, VectorFunctions => VF}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry demonstrates one operator family from SURVEY §2
  * (reference citations inline) re-expressed Spark-first; `oracleSql`
  * holds the DuckDB-equivalent ANSI SQL over the same parquet tables.
  *
  * Determinism notes (the driver hash-compares values with DuckDB):
  *  - Money/real aggregations are computed in DECIMAL (exact, identical
  *    across engines) and cast to double at the end; floating-point
  *    summation order can then never flip a digit.
  *  - Every query ends in a total ORDER BY on a unique key set.
  *  - events.ts is never emitted directly; it is read through the
  *    schema-sniffing micros accessor (QueriesCommon.eventTsMicros —
  *    exact under both testdata ts encodings) and bucketed or dropped.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    QueriesCommon.table(s, dir, name)

  /** Spine-table loader: the bucketed layout when the ingest wrote one
    * carrying every needed column (`<dir>/_bucketed/<name>` —
    * `VdfIO.writeNamespace(bucketBy)` / `tools.BucketIngest`), the
    * plain parquet otherwise. Routing is by LAYOUT PRESENCE, not scale:
    * the layout exists exactly where an ingest decided the bucketing
    * cost pays (the warehouse call), and the tail query is identical
    * either way — same columns, same operators, oracle-checked on both
    * routes. Over the bucketed route the join/distinct on the bucket
    * key plans with zero exchanges (asserted in ScaleSpec). */
  private def spineOpt(s: SparkSession, dir: String, name: String,
      cols: Seq[String]): Option[DataFrame] =
    QueriesCommon.spineOpt(s, dir, name, cols)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    qJoinAgg(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  /** A1/A8-style full-scan aggregation (TPC-H Q1 shape). Exercises scan →
    * filter pushdown → hash aggregate; partial (map-side) aggregation is
    * native. Reference analog: counting/aggregation over exported rows
    * (`scripts/count_rows.py:43-49`). */
  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)").as("sum_qty"),
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)").as("sum_base_price"),
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)").as("sum_disc_price"),
        expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)").as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** S2/P1 column pruning + predicate pushdown: both reach the Parquet
    * scan (`PushedFilters`/`ReadSchema`), mirroring `util.py:449-458`
    * column-subset reads done manually in the reference. */
  private def qScanProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .filter(col("l_quantity") >= 47)
      .orderBy("l_orderkey", "l_linenumber")

  /** S3/L1/L2 ordered limit (top-k by sort). The reference's per-batch
    * row caps (`pinecone_import.py:219-228` etc.) collapse into one
    * `limit` that Catalyst pushes down. */
  private def qTopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  /** J1 the reference's core relational op: full-outer equi-join of the
    * vector frame with the metadata frame on id
    * (`vdb_export_cls.py:74-84`). embeddings plays "vectors",
    * documents plays "metadata". */
  private def qOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val vec = t(s, dir, "embeddings").select(
      col("vec_id"), VF.dims(col("embedding")).as("dim"), col("label"))
    val meta = t(s, dir, "documents").select(
      col("doc_id"), col("lang"), col("source"))
    vec.join(meta, vec("vec_id") === meta("doc_id"), "full_outer")
      .select(
        coalesce(col("vec_id"), col("doc_id")).as("id"),
        col("dim"), col("label"), col("lang"), col("source"))
      .orderBy("id")
  }

  /** Multi-way join + aggregation (TPC-H Q5 shape): small dims broadcast
    * explicitly so no shuffle is wasted on nation/customer at scale. */
  private def qJoinAgg(s: SparkSession, dir: String): DataFrame = {
    // Narrow projections up front: Catalyst prunes columns through the
    // joins anyway, but projecting BEFORE the broadcast/shuffle keeps
    // the exchanged rows minimal in the executed plan too (measured
    // 0.90 → 0.73 s at sf0.1). Orders deliberately NOT broadcast: it
    // scales with the fact table (a size-gated hint re-measured SLOWER
    // in round 6 — the build job serializes the DAG), and the 1.4 GiB
    // AQE dump (BASELINE.md §e) shows the spine correctly staying a
    // shuffled SortMergeJoin at scale while customer/nation convert to
    // runtime broadcasts.
    val liB = spineOpt(s, dir, "lineitem",
      Seq("l_orderkey", "l_extendedprice", "l_discount"))
    val oB = spineOpt(s, dir, "orders", Seq("o_orderkey", "o_custkey"))
    // the bucketed route engages BOTH layouts or NEITHER: the per-table
    // source-fingerprint freshness check can invalidate one layout
    // independently, and a mixed pair would bind the two spine tables
    // to different branch sessions (the plan must live under ONE
    // session — and the spine fork plans with bloom injection off,
    // which is only correct when the join is actually co-located)
    val bucketed = liB.isDefined && oB.isDefined
    val li =
      if (bucketed) liB.get
      else t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    val o =
      if (bucketed) oB.get
      else t(s, dir, "orders").select("o_orderkey", "o_custkey")
    // dims bind to whichever branch session the spine plans under —
    // the bucketed route's frames live on the no-runtime-filter spine
    // fork, and a query must plan under ONE session
    def dim(name: String) =
      if (bucketed) QueriesCommon.spineTable(s, dir, name)
      else t(s, dir, name)
    val c = dim("customer").select("c_custkey", "c_nationkey")
    val n = dim("nation").select("n_nationkey", "n_name")
    // Bucketed route: force the MERGE ZIPPER. Both scans are
    // co-located and per-bucket SORTED (ordering re-enabled in the
    // at-scale branch), so SMJ streams them with no sort, no hash
    // build, no exchange — 15.7 GiB A/B: SHJ 15.6-39 s windows vs
    // sort-free SMJ 14.0 s. The branch-level SHJ preference exists
    // for SHUFFLED spines and stays in charge on the plain route.
    val spine = (if (bucketed) li.hint("merge") else li)
      .join(o, li("l_orderkey") === o("o_orderkey"))
    // The explicit customer broadcast is SIZE-GATED on its on-disk
    // bytes: compressed parquet expands ~6-8× into the driver-built
    // HashedRelation, so the 64 MiB default bounds the build at a few
    // hundred MB of driver heap (r11's 512 MiB gate could still admit
    // a multi-GB in-memory build — the ADVICE finding). Below the gate
    // the dim joins ride broadcasts with zero exchanges — the right
    // plan for real dimension tables. ABOVE the gate the query
    // RESTRUCTURES instead of falling back to a raw shuffled join:
    // the revenue aggregation is pushed below the dim attach, grouped
    // by o_custkey — decimal sums and counts re-associate exactly, and
    // c_custkey is unique, so attaching nation names to ≤|custkey|
    // partials is value-identical to attaching them to every spine row
    // (JoinAggShapeSpec pins the two shapes against each other). The
    // exchange then carries per-custkey partials instead of the raw
    // spine (630M rows at 15.7 GiB), the customer join is a small
    // shuffled join reusing the aggregation's hash partitioning, and
    // NO driver-side serial HashedRelation build exists at any scale —
    // the r11 stage-timeline probe measured that build alone at ~6.5 s
    // for the 125 MB/12.6M-row bigdata15 customer, and at 100 TB a
    // deployment-scaled dim would OOM the driver outright.
    val custFits = QueriesCommon.tableBytes(dir, "customer") <=
      java.lang.Long.getLong("graft.broadcastDimMaxBytes", 64L << 20)
    val revenueDec =
      "SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))"
    val attached =
      if (custFits)
        spine.join(broadcast(c), o("o_custkey") === c("c_custkey"))
          // nation is bounded by the world (25 rows at every scale)
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy("n_name")
          .agg(
            expr(s"CAST($revenueDec AS DOUBLE)").as("revenue"),
            count(lit(1)).as("n_items"))
      else {
        val byCust = spine.groupBy(o("o_custkey"))
          .agg(expr(revenueDec).as("__rev"), count(lit(1)).as("__cnt"))
        byCust.join(c, col("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy("n_name")
          .agg(
            expr("CAST(SUM(__rev) AS DOUBLE)").as("revenue"),
            sum(col("__cnt")).as("n_items"))
      }
    attached.orderBy("n_name")
  }

  /** P4 id-list subset as a semi-join (`pinecone_import.py:190-196`):
    * never collect the id set to the driver — at 100 TB the id list is
    * itself a table. */
  private def qSemiIdList(s: SparkSession, dir: String): DataFrame = {
    val oB = spineOpt(s, dir, "orders",
      Seq("o_orderkey", "o_orderpriority"))
    val liB = spineOpt(s, dir, "lineitem",
      Seq("l_orderkey", "l_returnflag", "l_quantity"))
    // the bucketed route only engages with BOTH layouts (a mixed pair
    // would split the plan across branch sessions)
    val bucketed = liB.isDefined && oB.isDefined
    val urgent = (if (bucketed) oB.get
        else t(s, dir, "orders").select("o_orderkey", "o_orderpriority"))
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val li =
      if (bucketed) liB.get
      else t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
    // bucketed route: sort-free merge semi-zipper (filter preserves
    // the per-bucket order) — see qJoinAgg's route note. The spine
    // fork also plans WITHOUT runtime bloom injection: the co-located
    // semi needs no filter, and the injected one measured as a 2.9 s
    // single-task bloom-merge stage + a per-row might_contain (~45%
    // of this query's wall at 15.7 GiB — the retired
    // ClusterTailProbe main, round 11).
    val fact = if (bucketed) li.hint("merge") else li
    fact.join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)").as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** P5 id-range subset (`pinecone_import.py:197-213`): numeric between,
    * pushed down into Parquet row-group pruning. */
  private def qIdRange(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderkey").between(1000, 1200))
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")

  /** J4/J5/O2 id-set difference as a distributed anti-join
    * (`scripts/get_id_list.py:39-46` missing-id detection): orders that
    * have no lineitem rows. The join is HINTED merge: a left-anti can
    * only build its RIGHT side, and here that side is the fact table —
    * the at-scale branch's shuffled-hash preference would hash-build
    * 504M keys per the 15.7 GiB probe (15.8 → 69.7 s regression,
    * BASELINE §e) where the sort-merge streams both sides. The hint
    * encodes the structural fact; everywhere the build side is the
    * small one, the branch-level SHJ preference stands.
    *
    * The fact side is DISTINCT'd before the join: an anti join only
    * consults key existence, and lineitem carries ~4 rows per order
    * (clustered on disk), so the distinct's map-side partial aggregate
    * collapses the fact shuffle ~4× before the exchange. The join then
    * REUSES the distinct's hash partitioning on l_orderkey — one
    * exchange of unique keys instead of one exchange of every fact
    * row, the same reduction a 1000-executor cluster wants. */
  private def qAntiMissing(s: SparkSession, dir: String): DataFrame = {
    // The fact side's shape is ROUTE-DEPENDENT. Shuffled route: distinct
    // first — the anti join only consults key existence, lineitem
    // carries ~4 rows per order, so the map-side partial aggregate
    // collapses the exchange ~4× and the join reuses its hash
    // partitioning. Bucketed route: NO distinct — the layout is already
    // co-located AND per-bucket sorted on the key (one file per
    // bucket), so the merge anti-join streams the scan directly; a
    // distinct there only ADDS a hash aggregate and a re-sort to shrink
    // an exchange that no longer exists.
    val liB = QueriesCommon.bucketedTable(s, dir, "lineitem")
      .filter(_.columns.contains("l_orderkey"))
    val oB = spineOpt(s, dir, "orders", Seq("o_orderkey", "o_orderstatus"))
    // both layouts or neither — a mixed pair would split the plan
    // across branch sessions (the bucketed frames live on the spine
    // fork)
    val bucketed = liB.isDefined && oB.isDefined
    val liKeys =
      if (bucketed) liB.get.select("l_orderkey")
      else t(s, dir, "lineitem").select("l_orderkey").distinct()
    val orders =
      if (bucketed) oB.get
      else t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
    orders
      .join(liKeys.hint("merge"),
        col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select("o_orderkey", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** J6 last-wins upsert merge (`pinecone_export.py:557-563` dict
    * update order): made deterministic with an explicit event-time +
    * id ordering, implemented as a window dedupe. */
  private def qDedupeLastWins(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "event_id", "value")
      .orderBy("user_id", "event_type")
  }

  /** A3/L3 distinct id extraction, sorted (`scripts/get_id_list.py:12-37`). */
  private def qDistinctIds(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select("user_id").distinct().orderBy("user_id")

  /** A1/A6 row count + distinct count + max id (`count_rows.py:43-49`,
    * `get_id_list.py:43`). */
  private def qCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("l_orderkey")).as("n_orders"),
      max(col("l_orderkey")).as("max_key"))

  /** A5 per-dimension min/max over vectors (`pinecone_export.py:609-638`
    * search-box expansion) — posexplode + groupBy(dim) keeps it fully
    * distributed; no driver-side vector math. */
  private def qVecMinMax(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(
        min(col("v")).cast("double").as("vmin"),
        max(col("v")).cast("double").as("vmax"))
      .orderBy("dim")

  /** O3 schema union across heterogeneous frames
    * (`consolidate_parquet.py:68-91`): unionByName with missing columns
    * null-padded. */
  private def qUnionSchema(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "orders").select(
      col("o_orderkey").as("id"), col("o_totalprice").as("price"),
      lit("orders").as("src"))
    val b = t(s, dir, "customer").select(
      col("c_custkey").as("id"), col("c_name").as("name"),
      lit("customer").as("src"))
    a.unionByName(b, allowMissingColumns = true).orderBy("src", "id")
  }

  // ------------------------------------------------------------- registry

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ QueriesExt.queries ++ QueriesExt2.queries ++ QueriesExt3.queries ++ QueriesExt4.queries ++ QueriesExt5.queries ++ QueriesExt6.queries ++ QueriesExt7.queries ++ QueriesExt8.queries ++ QueriesExt9.queries ++ QueriesExt10.queries ++ QueriesExt11.queries ++ QueriesExt12.queries ++ QueriesExt13.queries ++ QueriesExt14.queries ++ QueriesExt15.queries ++ QueriesExt16.queries

  private def baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (q1Agg(_, _)),
    "q_scan_project" -> (qScanProject(_, _)),
    "q_topk" -> (qTopK(_, _)),
    "q_outer_join" -> (qOuterJoin(_, _)),
    "q_join_agg" -> (qJoinAgg(_, _)),
    "q_semi_idlist" -> (qSemiIdList(_, _)),
    "q_idrange" -> (qIdRange(_, _)),
    "q_anti_missing" -> (qAntiMissing(_, _)),
    "q_dedupe_lastwins" -> (qDedupeLastWins(_, _)),
    "q_distinct_ids" -> (qDistinctIds(_, _)),
    "q_counts" -> (qCounts(_, _)),
    "q_vec_minmax" -> (qVecMinMax(_, _)),
    "q_union_schema" -> (qUnionSchema(_, _)))

  def oracleSql: Map[String, String] =
    baseOracleSql ++ QueriesExt.oracleSql ++ QueriesExt2.oracleSql ++ QueriesExt3.oracleSql ++ QueriesExt4.oracleSql ++ QueriesExt5.oracleSql ++ QueriesExt6.oracleSql ++ QueriesExt7.oracleSql ++ QueriesExt8.oracleSql ++ QueriesExt9.oracleSql ++ QueriesExt10.oracleSql ++ QueriesExt11.oracleSql ++ QueriesExt12.oracleSql ++ QueriesExt13.oracleSql ++ QueriesExt14.oracleSql ++ QueriesExt15.oracleSql ++ QueriesExt16.oracleSql

  private def baseOracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity >= 47
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q_outer_join" ->
      """SELECT COALESCE(vec_id, doc_id) AS id, len(embedding) AS dim,
        |  label, lang, source
        |FROM embeddings FULL OUTER JOIN documents ON vec_id = doc_id
        |ORDER BY id""".stripMargin,
    "q_join_agg" ->
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_semi_idlist" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_idrange" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 1200
        |ORDER BY o_orderkey""".stripMargin,
    "q_anti_missing" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q_dedupe_lastwins" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "q_distinct_ids" ->
      "SELECT DISTINCT user_id FROM events ORDER BY user_id",
    "q_counts" ->
      """SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_orders,
        |  MAX(l_orderkey) AS max_key FROM lineitem""".stripMargin,
    "q_vec_minmax" ->
      """SELECT i - 1 AS dim, CAST(MIN(e) AS DOUBLE) AS vmin,
        |  CAST(MAX(e) AS DOUBLE) AS vmax
        |FROM (SELECT UNNEST(embedding) AS e,
        |        generate_subscripts(embedding, 1) AS i
        |      FROM embeddings)
        |GROUP BY dim ORDER BY dim""".stripMargin,
    "q_union_schema" ->
      """(SELECT o_orderkey AS id, o_totalprice AS price, 'orders' AS src FROM orders)
        |UNION ALL BY NAME
        |(SELECT c_custkey AS id, c_name AS name, 'customer' AS src FROM customer)
        |ORDER BY src, id""".stripMargin)
}
