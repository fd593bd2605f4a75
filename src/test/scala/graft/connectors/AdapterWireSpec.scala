package graft.connectors

import graft.SparkSpec
import graft.connectors.wire._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** WIRE-level connector exercise: the DSv2 connector driven through
  * real localhost HTTP request/response bytes against the stub server
  * speaking the reference's REST dialects (Qdrant scroll, Pinecone
  * list+fetch, Chroma limit/offset get). What the struct-level
  * AdapterDsv2Spec can't see, this asserts on the request log:
  * adaptive-shrink retries on injected 429/500/413, pruned-column
  * flags on the wire, and page/limit parameters. */
class AdapterWireSpec extends SparkSpec {

  private var server: WireStubServer = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = new WireStubServer
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    super.afterAll()
  }

  private def resetLog(): Unit = server.requestLog.clear()
  private def log: Seq[String] = server.requestLog.asScala.toSeq

  private def points(n: Int, prefix: String) = {
    val rows = (0 until n).map { i =>
      Row(s"$prefix-$i", Seq(i.toDouble, i * 0.5, 1.0),
        Map("source" -> s"src${i % 3}", "rank" -> i.toString))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 4), WireVdb.Schema)
  }

  private def roundTrip(dialect: String, c: String): Unit = {
    val df = points(1200, c)
    WireDialect(dialect, server.url).create(c, 3)
    WireVdb.write(df, dialect, server.url, c, batchSize = 500)
    val back = WireVdb.read(spark, dialect, server.url, c, batchSize = 500)
    assert(back.count() == 1200)
    val got = back.collect()
      .map(r => (r.getString(0), r.getSeq[Double](1),
        r.getMap[String, String](2).toMap)).toSet
    val want = df.collect()
      .map(r => (r.getString(0), r.getSeq[Double](1),
        r.getMap[String, String](2).toMap)).toSet
    assert(got == want, s"$dialect round-trip diverged")
  }

  test("qdrant/pinecone/chroma round-trip through real HTTP bytes") {
    roundTrip("qdrant", "rt_q")
    roundTrip("pinecone", "rt_p")
    roundTrip("chroma", "rt_c")
  }

  test("injected 429s shrink the upsert batch x2/3 and the write still lands") {
    val c = "shrink429"
    WireDialect("qdrant", server.url).create(c, 3)
    resetLog()
    server.failNextWrites(2, 429)
    // single partition so the shrink sequence in the log is unambiguous
    val df = points(600, c).coalesce(1)
    WireVdb.write(df, "qdrant", server.url, c, batchSize = 500)
    val sizes = log.filter(_.startsWith(s"PUT /collections/$c/points"))
      .map(_.split("n=")(1).toInt)
    // 500 rejected (429) -> 333 rejected (429) -> 222 accepted, then
    // the remainder re-split at the shrunken size
    assert(sizes.take(3) == Seq(500, 333, 222), s"shrink sequence: $sizes")
    assert(server.collectionSize(c) == 600, "rows lost across retries")
  }

  test("a 413 payload-too-large cap forces shrinking below the cap (chroma)") {
    val c = "cap413"
    WireDialect("chroma", server.url).create(c, 3)
    server.maxUpsertBatch = 100
    try {
      resetLog()
      WireVdb.write(points(700, c).coalesce(1), "chroma", server.url, c,
        batchSize = 500)
      val sizes = log.filter(_.startsWith(s"POST /api/v1/collections/$c/add"))
        .map(_.split("n=")(1).toInt)
      // every ACCEPTED batch is under the cap; the probe sequence
      // shrinks 500 -> 333 -> 222 -> 148 -> 98
      assert(sizes.take(5) == Seq(500, 333, 222, 148, 98),
        s"shrink sequence: $sizes")
      assert(server.collectionSize(c) == 700)
    } finally server.maxUpsertBatch = Int.MaxValue
  }

  test("injected 500s shrink the read fetch size and the scan still completes") {
    val c = "read500"
    WireDialect("pinecone", server.url).create(c, 3)
    WireVdb.write(points(300, c), "pinecone", server.url, c, batchSize = 100)
    resetLog()
    server.failNextReads(3, 500)
    // the reader's try_scroll-style shrink re-requests the same offset
    // at x2/3 fetch size — no rows lost, no task failed
    val rows = WireVdb.read(spark, "pinecone", server.url, c, batchSize = 300)
      .collect()
    assert(rows.length == 300)
    assert(rows.map(_.getString(0)).toSet.size == 300, "duplicated rows")
    val lists = log.filter(_.contains("/vectors/list"))
      .map(_.split("limit=")(1).split(" ")(0).toInt)
    // 300 failed -> 200 failed -> 133 failed -> 88 accepted...
    assert(lists.take(4) == Seq(300, 200, 133, 88),
      s"fetch-shrink sequence: $lists")
  }

  test("column pruning reaches the wire: with_vector=false / include w/o embeddings / no fetch") {
    val cq = "prune_q"; val cc = "prune_c"; val cp = "prune_p"
    for ((d, c) <- Seq(("qdrant", cq), ("chroma", cc), ("pinecone", cp))) {
      WireDialect(d, server.url).create(c, 3)
      WireVdb.write(points(200, c), d, server.url, c, batchSize = 100)
    }
    // collect() (not count()) so the required schema IS the selection
    resetLog()
    assert(WireVdb.read(spark, "qdrant", server.url, cq, 100)
      .select("id").collect().length == 200)
    val scrolls = log.filter(_.contains(s"/collections/$cq/points/scroll"))
    assert(scrolls.nonEmpty &&
      scrolls.forall(_.contains("with_vector=false")), scrolls.mkString("\n"))
    assert(scrolls.forall(_.contains("with_payload=false")))

    resetLog()
    assert(WireVdb.read(spark, "chroma", server.url, cc, 100)
      .select("id", "payload").collect().length == 200)
    val gets = log.filter(_.contains(s"/collections/$cc/get"))
    assert(gets.nonEmpty &&
      gets.forall(g => g.contains("include=metadatas") &&
        !g.contains("embeddings")), gets.mkString("\n"))

    resetLog()
    assert(WireVdb.read(spark, "pinecone", server.url, cp, 100)
      .select("id").collect().length == 200)
    assert(log.exists(_.contains("/vectors/list")))
    assert(!log.exists(_.contains("/vectors/fetch")),
      "id-only pinecone scan must never call /vectors/fetch")
  }

  test("limit pushdown caps the pages requested on the wire") {
    val c = "limit_q"
    WireDialect("qdrant", server.url).create(c, 3)
    WireVdb.write(points(1000, c), "qdrant", server.url, c, batchSize = 100)
    resetLog()
    val n = WireVdb.read(spark, "qdrant", server.url, c, batchSize = 50)
      .limit(120).count()
    assert(n == 120)
    val scrolls = log.filter(_.contains(s"/collections/$c/points/scroll"))
    assert(scrolls.size <= 3, // ceil(120/50) pages, not ceil(1000/50)
      s"${scrolls.size} pages requested for a 120-row limit")
  }

  test("id IN (...) pushes down to a targeted retrieve — no paging on the wire") {
    for ((d, c) <- Seq(("qdrant", "idpush_q"), ("pinecone", "idpush_p"),
        ("chroma", "idpush_c"))) {
      WireDialect(d, server.url).create(c, 3)
      WireVdb.write(points(500, c), d, server.url, c, batchSize = 250)
      resetLog()
      val wanted = Seq(s"$c-3", s"$c-250", s"$c-499", s"$c-absent")
      val got = WireVdb.read(spark, d, server.url, c, batchSize = 100)
        .filter(col("id").isin(wanted: _*))
        .collect()
      // absent ids just don't return; present ones carry full rows
      assert(got.map(_.getString(0)).toSet ==
        Set(s"$c-3", s"$c-250", s"$c-499"), s"$d: ${got.mkString(",")}")
      assert(got.forall(_.getSeq[Double](1).nonEmpty), s"$d lost vectors")
      // the wire saw ONE targeted retrieve and ZERO page scans
      val pages = log.filter(l => l.contains("scroll") ||
        l.contains("/vectors/list") || l.contains("limit="))
      assert(pages.isEmpty, s"$d paged despite id pushdown:\n" +
        log.mkString("\n"))
      val targeted = log.filter(l => l.contains("retrieve") ||
        l.contains("/vectors/fetch") || l.contains("ids="))
      assert(targeted.size == 1, s"$d targeted calls: $targeted")
    }
    // plan surface: the pushed filter is visible in the scan description
    val desc = WireVdb.read(spark, "qdrant", server.url, "idpush_q", 100)
      .filter(col("id") === "idpush_q-3")
      .queryExecution.executedPlan.toString
    assert(desc.contains("pushedIds=1"), desc)
  }

  test("vespa visit/feed: continuation-token chain over real HTTP, executor-side") {
    val sch = "vespa_docs"
    val wire = VespaWire(server.url)
    // feed 250 docs — one id-addressed PUT each, the adapter's feedUrl
    wire.feed(sch, (0 until 250).map(i =>
      (s"d$i", Map("title" -> s"doc $i", "rank" -> i.toString))))
    assert(server.collectionSize(sch) == 250)
    resetLog()
    // visit chain through the SAME machinery the struct-level adapter
    // uses (PaginatedScan.byContinuation): pages of 60 → 5 pages,
    // tokens passed back verbatim, chain walked on an executor
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("title",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.StringType)))
    // capture only the URL string: the server object itself must not
    // ride into the task closure
    val base = server.url
    val df = Adapters.Vespa.scan(spark, schema, Seq(sch))(
      (s, tok) => VespaWire(base).visit(s, tok, wanted = 60))
    val rows = df.collect()
    assert(rows.length == 250)
    assert(rows.map(_.getString(0)).toSet.size == 250)
    assert(rows.forall(r => r.getString(1).startsWith("doc ")))
    val visits = log.filter(_.contains(s"/document/v1/$sch/$sch/docid "))
    assert(visits.size == 5, visits.mkString("\n"))
    // the chain: first request has no token, later ones echo c60/c120...
    assert(visits.head.contains("continuation=-"))
    assert(visits.tail.zipWithIndex.forall { case (v, i) =>
      v.contains(s"continuation=c${(i + 1) * 60}") }, visits.mkString("\n"))

    // injected 500 mid-chain: the SAME token is retried (idempotent
    // read), no rows lost or duplicated
    resetLog()
    server.failNextReads(2, 500)
    val again = Adapters.Vespa.scan(spark, schema, Seq(sch))(
      (s, tok) => VespaWire(base).visit(s, tok, wanted = 60))
      .collect()
    assert(again.length == 250)
    assert(again.map(_.getString(0)).toSet.size == 250)
  }

  test("the wire path round-trips a frame shaped by the per-DB adapters") {
    // end-to-end with the Adapters layer: shape a vectors+metadata
    // frame the way the Pinecone importer does, then push it over HTTP
    import spark.implicits._
    val src = Seq(
      (1L, Seq(0.1, 0.2, 0.3), "alpha", 7L),
      (2L, Seq(0.4, 0.5, 0.6), "beta", 8L),
      (3L, Seq(0.7, 0.8, 0.9), null, 9L)
    ).toDF("id", "vector", "tag", "rank")
    val shaped = src.select(
      col("id").cast("string").as("id"),
      col("vector").cast("array<double>").as("vector"),
      map_filter(
        map(lit("tag"), col("tag").cast("string"),
          lit("rank"), col("rank").cast("string")),
        (_, v) => v.isNotNull).as("payload"))
    val c = "adapter_shaped"
    WireVdb.write(shaped, "pinecone", server.url, c, batchSize = 10)
    val back = WireVdb.read(spark, "pinecone", server.url, c).collect()
    assert(back.length == 3)
    val p3 = back.find(_.getString(0) == "3").get
    // null metadata dropped before the wire, like the reference's
    // importers strip null fields
    assert(p3.getMap[String, String](2).toMap == Map("rank" -> "9"))
  }

  // ---------------------------------------------------------------
  // Wire dialects 5–7 (round 8): AstraDB JSON API, Turbopuffer,
  // Weaviate — opaque-token paging through byContinuation, batched
  // shrink-on-fault writes, pruning flags on the wire.

  private def asPoints(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0),
      Option(r.getSeq[Double](1)).getOrElse(Seq.empty),
      Option(r.getMap[String, String](2)).map(_.toMap).getOrElse(Map.empty)))
      .toSet

  test("astra: insertMany/find round-trip, pageState chain on the wire") {
    val c = "astra_rt"
    val wire = AstraWire(server.url)
    wire.write(points(700, c).coalesce(2), c, batchSize = 250)
    resetLog()
    val back = wire.scan(spark, c, fetchSize = 200, wantVector = true)
    assert(asPoints(back) == asPoints(points(700, c)))
    val finds = log.filter(_.contains(s"astra/$c find"))
    assert(finds.size == 4, finds.mkString("\n")) // 200+200+200+100
    // the chain carried the server's nextPageState forward
    assert(finds.exists(_.contains("pageState=-")))
    assert(finds.exists(_.contains("pageState=p200")))
    assert(finds.exists(_.contains("pageState=p400")))
    assert(wire.count(c) == 700)
  }

  test("astra: scan errors shrink the fetch by 10% retrying the SAME pageState") {
    val c = "astra_shrink"
    val wire = AstraWire(server.url)
    wire.write(points(300, c).coalesce(1), c, batchSize = 300)
    resetLog()
    server.failNextReads(2, 500)
    val back = wire.scan(spark, c, fetchSize = 100, wantVector = true)
    assert(back.count() == 300) // no row lost to the faults
    val finds = log.filter(_.contains(s"astra/$c find"))
    // first page requested 3 times: 100 (fail), 90 (fail), 81 (ok) —
    // the reference's fetch_size * 0.9 loop, same state each time
    val first = finds.filter(_.contains("pageState=-"))
    assert(first.map(f => f.split("limit=")(1).split(" ")(0)).toList ==
      List("100", "90", "81"), first.mkString("\n"))
  }

  test("astra: projection excludes $vector on the wire when unwanted") {
    val c = "astra_prune"
    val wire = AstraWire(server.url)
    wire.write(points(50, c).coalesce(1), c, batchSize = 50)
    resetLog()
    val slim = wire.scan(spark, c, fetchSize = 50, wantVector = false)
    assert(slim.count() == 50)
    assert(slim.collect().forall(_.getSeq[Double](1).isEmpty))
    assert(log.filter(_.contains(s"astra/$c find"))
      .forall(_.contains("vector=false")))
  }

  test("astra: a 413 on insertMany shrinks the batch until it lands") {
    val c = "astra_413"
    val wire = AstraWire(server.url)
    server.maxUpsertBatch = 100
    try {
      wire.write(points(600, c).coalesce(1), c, batchSize = 300)
      assert(server.collectionSize(c) == 600)
      val sizes = log.filter(_.contains(s"astra/$c insertMany"))
        .map(_.split("n=")(1).toInt)
      assert(sizes.exists(_ > 100) && sizes.forall(s => s <= 300))
      assert(sizes.filter(_ <= 100).sum == 600,
        s"landed batches must cover all rows: $sizes")
    } finally server.maxUpsertBatch = Int.MaxValue
  }

  test("turbopuffer: columnar round-trip, cursor chain, include_vectors pruning") {
    val c = "tpuf_rt"
    val wire = TurbopufferWire(server.url)
    wire.write(points(500, c).coalesce(2), c, batchSize = 200)
    resetLog()
    val back = wire.scan(spark, c, limit = 150, includeVectors = true)
    assert(asPoints(back) == asPoints(points(500, c)))
    val pages = log.filter(_.contains(s"GET /v1/vectors/$c"))
    assert(pages.size == 4, pages.mkString("\n")) // 150×3 + 50
    assert(pages.exists(_.contains("cursor=-")))
    assert(pages.exists(_.contains("cursor=c150")))
    // pruning: vectors stay off the wire entirely
    resetLog()
    val slim = wire.scan(spark, c, limit = 500, includeVectors = false)
    assert(slim.collect().forall(_.getSeq[Double](1).isEmpty))
    assert(log.filter(_.contains(s"GET /v1/vectors/$c"))
      .forall(_.contains("include_vectors=false")))
  }

  test("turbopuffer: injected 429s shrink the columnar upsert x2/3") {
    val c = "tpuf_429"
    val wire = TurbopufferWire(server.url)
    server.failNextWrites(2, 429)
    wire.write(points(600, c).coalesce(1), c, batchSize = 600)
    assert(server.collectionSize(c) == 600)
    val sizes = log.filter(_.contains(s"POST /v1/vectors/$c"))
      .map(_.split("n=")(1).toInt)
    // 600 (429) → 400 (429) → 266 … shrink then resplit of the rest
    assert(sizes.take(3) == List(600, 400, 266), sizes.mkString(","))
  }

  test("weaviate: batch write + after-cursor listing round-trip, vector include") {
    val c = "Weav_rt"
    val wire = WeaviateWire(server.url)
    wire.write(points(260, c).coalesce(2), c, batchSize = 100)
    resetLog()
    val back = wire.scan(spark, c, limit = 100, includeVector = true)
    assert(asPoints(back) == asPoints(points(260, c)))
    val lists = log.filter(_.contains(s"GET /v1/objects class=$c"))
    assert(lists.size >= 3, lists.mkString("\n"))
    assert(lists.head.contains("after=-"))
    assert(lists.drop(1).forall(_.contains(s"after=$c-")),
      "subsequent pages must carry the after-id cursor")
    assert(lists.forall(_.contains("include=vector")))
    // without include=vector the wire stays slim
    resetLog()
    val slim = wire.scan(spark, c, limit = 300, includeVector = false)
    assert(slim.collect().forall(_.getSeq[Double](1).isEmpty))
    assert(log.filter(_.contains("GET /v1/objects"))
      .forall(_.contains("include=-")))
  }

  test("weaviate: an unknown after-cursor errors instead of silently truncating (r12 ADVICE)") {
    val c = "Weav_cursor"
    val wire = WeaviateWire(server.url)
    wire.write(points(30, c).coalesce(1), c, batchSize = 30)
    def get(after: String): (Int, String) = {
      val u = new java.net.URI(
        s"${server.url}/v1/objects?class=$c&limit=10&after=$after").toURL
      val conn = u.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = scala.io.Source.fromInputStream(in).mkString
      (code, body)
    }
    // a cursor row deleted mid-scan must FAIL the page — returning an
    // empty page reads as normal end-of-scan and truncates the export
    val (code, body) = get(s"$c-nope")
    assert(code == 500, s"expected 500, got $code: $body")
    assert(body.contains("unknown cursor"), body)
    // a valid cursor still pages from strictly after it
    val (okCode, okBody) = get(s"$c-5")
    assert(okCode == 200 && okBody.contains(s"$c-6"), okBody)
  }

  test("weaviate: a 413 on batch/objects shrinks until it lands") {
    val c = "Weav_413"
    val wire = WeaviateWire(server.url)
    server.maxUpsertBatch = 40
    try {
      wire.write(points(200, c).coalesce(1), c, batchSize = 120)
      assert(server.collectionSize(c) == 200)
      val sizes = log.filter(_.contains("POST /v1/batch/objects class=" + c))
        .map(_.split("n=")(1).toInt)
      assert(sizes.head == 120 && sizes.filter(_ <= 40).sum == 200,
        sizes.mkString(","))
    } finally server.maxUpsertBatch = Int.MaxValue
  }

  // ---------------------------------------------------------------
  // The gRPC dialect (milvus over HTTP/2): same WireDialect trait, same
  // DSv2 stack, 5-byte-prefixed protobuf-style messages on HTTP/2
  // streams instead of JSON-over-HTTP.

  test("grpc: the framed binary dialect drives the full DSv2 stack") {
    val g = new MilvusH2Stub
    try {
      val c = "grpc_rt"
      MilvusWire(g.hostPort).create(c, 3)
      val df = points(800, c)
      WireVdb.write(df, "milvus", g.hostPort, c, batchSize = 300)
      val back = WireVdb.read(spark, "milvus", g.hostPort, c, batchSize = 250)
      assert(asPoints(back) == asPoints(df))
      val pages = g.requestLog.asScala.toSeq
        .filter(_.startsWith(s"milvus query $c"))
      assert(pages.size == 4, pages.mkString("\n")) // 250×3 + 50
      assert(pages.forall(_.contains("want_vector=true")))
      // column pruning reaches the binary frames: an id-only scan
      // sends want_vector=false/want_payload=false
      g.requestLog.clear()
      val idsOnly = WireVdb.read(spark, "milvus", g.hostPort, c, 800)
        .select("id").collect()
      assert(idsOnly.length == 800)
      val slimPages = g.requestLog.asScala.toSeq.filter(_.contains("milvus query"))
      assert(slimPages.nonEmpty && slimPages.forall(p =>
        p.contains("want_vector=false") && p.contains("want_payload=false")))
      // and the id-IN pushdown becomes a framed targeted retrieve
      g.requestLog.clear()
      val got = WireVdb.read(spark, "milvus", g.hostPort, c, 800)
        .filter(col("id").isin(s"$c-1", s"$c-99", s"$c-absent"))
        .collect()
      assert(got.map(_.getString(0)).toSet == Set(s"$c-1", s"$c-99"))
      val lg = g.requestLog.asScala.toSeq
      assert(lg.exists(_.startsWith(s"milvus retrieve $c n=3")), lg.mkString("\n"))
      assert(!lg.exists(_.contains("milvus query")), "id pushdown must not page")
    } finally g.stop()
  }

  test("grpc: RESOURCE_EXHAUSTED shrinks writes, UNAVAILABLE shrinks the read fetch") {
    val g = new MilvusH2Stub
    try {
      val c = "grpc_faults"
      g.failNextWrites(2, 8) // gRPC 8 → the 429 class
      WireVdb.write(points(600, c).coalesce(1), "milvus", g.hostPort, c,
        batchSize = 600)
      assert(g.collectionSize(c) == 600)
      val sizes = g.requestLog.asScala.toSeq
        .filter(_.startsWith(s"milvus upsert $c")).map(_.split("n=")(1).toInt)
      assert(sizes.take(3) == List(600, 400, 266), sizes.mkString(","))
      g.requestLog.clear()
      g.failNextReads(1, 14) // gRPC 14 → the 503 class
      assert(WireVdb.read(spark, "milvus", g.hostPort, c,
        batchSize = 600).count() == 600)
      val limits = g.requestLog.asScala.toSeq
        .filter(_.startsWith(s"milvus query $c"))
        .map(_.split("limit=")(1).split(" ")(0).toInt)
      assert(limits == List(600, 400, 200), limits.mkString(","))
    } finally g.stop()
  }

  test("id pushdown + limit: Spark keeps the Limit, result is capped") {
    // pushLimit must refuse when an id set is pushed — the targeted
    // retrieve can't cap across shards, so a pushed-and-deleted Limit
    // would over-return. ADVICE r7 (medium).
    val c = "idlimit_q"
    WireDialect("qdrant", server.url).create(c, 3)
    WireVdb.write(points(50, c), "qdrant", server.url, c, batchSize = 50)
    val wanted = (0 until 10).map(i => s"$c-$i")
    val df = WireVdb.read(spark, "qdrant", server.url, c, batchSize = 4)
      .filter(col("id").isin(wanted: _*)).limit(3)
    assert(df.count() == 3)
    assert(df.collect().length == 3)
    // and the plan retains a limit above the scan (not pushed+deleted)
    val plan = df.queryExecution.optimizedPlan.toString()
    assert(plan.contains("GlobalLimit") || plan.contains("Limit"),
      s"Limit operator missing from plan:\n$plan")
  }

  test("pinecone fetch omitting a listed id loses only that id, not the range") {
    // /vectors/list enumerates the page, /vectors/fetch hydrates it; a
    // live service can transiently omit a listed id from fetch. The
    // range reader must advance by the LISTING — keying exhaustion off
    // hydrated row count silently truncates the partition. ADVICE r7.
    val c = "omit_p"
    WireVdb.write(points(12, c).coalesce(1), "pinecone", server.url, c,
      batchSize = 12)
    server.omitFromFetch = Set(s"$c-2")
    try {
      // force multiple pages within one range: one injected 500 shrinks
      // fetch 12 -> 8, so the range [0,12) takes pages of 8 then 4
      server.failNextReads(1, 500)
      resetLog()
      val got = WireScan.fetchRange(PineconeWire(server.url), c,
        offset = 0, limit = 12, wantVector = true, wantPayload = true)
      val lists = log.filter(_.contains("/vectors/list"))
      assert(lists.size >= 2, s"expected shrink into >=2 pages, saw $lists")
      // 11 of 12 rows: only the omitted id is missing — the rows AFTER
      // the short first page (the old truncation) are all present
      assert(got.size == 11, s"got ${got.size} rows: ${got.map(_.id)}")
      assert(!got.exists(_.id == s"$c-2"))
      assert(got.exists(_.id == s"$c-11"))
      // the reader RETRIED the omitted id via a targeted fetch before
      // accepting the loss (ADVICE r8) — the n=1 fetch in the log
      assert(log.exists(_.contains("/vectors/fetch index=" + c + " n=1")),
        log.mkString("\n"))
    } finally server.omitFromFetch = Set.empty
  }

  test("a TRANSIENTLY omitted id is recovered by the targeted retry — zero loss") {
    val c = "omit_once_p"
    WireVdb.write(points(12, c).coalesce(1), "pinecone", server.url, c,
      batchSize = 12)
    server.omitFromFetch = Set(s"$c-5")
    server.omitFromFetchOnce = true // hydration lag clears by retry time
    try {
      resetLog()
      val got = WireScan.fetchRange(PineconeWire(server.url), c,
        offset = 0, limit = 12, wantVector = true, wantPayload = true)
      // all 12 rows present: the reader saw points < listed, re-fetched
      // exactly the omitted id, and the second (targeted) fetch landed
      assert(got.size == 12, s"got ${got.size} rows: ${got.map(_.id)}")
      assert(got.exists(_.id == s"$c-5"))
      val fetches = log.filter(_.contains("/vectors/fetch"))
      assert(fetches.size == 2 && fetches.last.contains("n=1"),
        fetches.mkString("\n"))
    } finally { server.omitFromFetch = Set.empty
      server.omitFromFetchOnce = false }
  }

  test("weaviate: a server page cap below the requested limit must not truncate") {
    // live Weaviate truncates each page to QUERY_MAXIMUM_RESULTS; a
    // full-but-capped page is NOT exhaustion — only an empty page is.
    // The r8 listing keyed exhaustion off objs.size < limit and would
    // stop after the first capped page (30 of 75 rows).
    val c = "Weav_capped"
    val wire = WeaviateWire(server.url)
    wire.write(points(75, c).coalesce(1), c, batchSize = 75)
    server.weaviatePageCap = 30
    try {
      resetLog()
      val back = wire.scan(spark, c, limit = 100, includeVector = true)
      assert(asPoints(back) == asPoints(points(75, c)),
        "rows lost to the page cap")
      // chain: 30, 30, 15, then the terminating EMPTY page
      val lists = log.filter(_.contains(s"GET /v1/objects class=$c"))
      assert(lists.size == 4, lists.mkString("\n"))
    } finally server.weaviatePageCap = Int.MaxValue
  }

  test("turbopuffer: a 5xx mid-chain shrinks the page x2/3 on the SAME cursor") {
    val c = "tpuf_5xx"
    val wire = TurbopufferWire(server.url)
    wire.write(points(500, c).coalesce(1), c, batchSize = 500)
    resetLog()
    server.failNextReads(2, 503)
    val back = wire.scan(spark, c, limit = 150, includeVectors = true)
    // zero row loss, zero duplication across the injected faults
    assert(asPoints(back) == asPoints(points(500, c)))
    val first = log.filter(l => l.contains(s"GET /v1/vectors/$c") &&
      l.contains("cursor=- "))
    // first page requested at 150 (503), 100 (503), 66 (ok) — the x2/3
    // shrink retrying the same (absent) cursor
    assert(first.map(_.split("limit=")(1).split(" ")(0)).toList ==
      List("150", "100", "66"), first.mkString("\n"))
  }
}
