package graft.connectors

import graft.SparkSpec
import graft.connectors.wire._
import graft.core.Metric

import scala.jdk.CollectionConverters._

/** Round-10 ADVICE regressions on the wire layer:
  *
  *  - credentials in dialect constructor fields must never render —
  *    `WireScan.description()` embeds the dialect, and Spark publishes
  *    scan descriptions into df.explain(), the UI SQL tab, and event
  *    logs, so the default case-class toString was a secret leak;
  *  - LanceDB's payload-only projection needed one describe round-trip
  *    PER PAGE for a column inventory that is static per table;
  *  - the framed transports mapped every unknown gRPC status into the
  *    retryable 5xx band, so a permanently failing call (NOT_FOUND /
  *    UNIMPLEMENTED / INVALID_ARGUMENT) would shrink-and-retry instead
  *    of failing fast.
  */
class WireAdviceR10Spec extends SparkSpec {

  private var server: WireStubServer = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = new WireStubServer
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    super.afterAll()
  }

  test("dialect toString redacts the credential on every wire client") {
    val key = Some("sekret-abc123")
    val renderings = Seq[Any](
      QdrantWire("http://h:1", key), PineconeWire("http://h:1", key),
      ChromaWire("http://h:1", key), LanceDbWire("http://h:1", key),
      KdbaiWire("http://h:1", key), MilvusWire("h:1", key), AstraWire("http://h:1", "ks", key),
      TurbopufferWire("http://h:1", key), WeaviateWire("http://h:1", key),
      VertexWire("http://h:1", "ep", key)).map(_.toString)
    renderings.foreach { s =>
      assert(!s.contains("sekret"), s)
      assert(s.contains("h:1"), s) // the endpoint still prints
    }
  }

  test("df.explain over an authenticated wire scan never shows the key") {
    val c = "redact_scan"
    val d = QdrantWire(server.url, apiKey = Some("sekret-abc123"))
    d.create(c, 3, Metric.Cosine)
    d.upsertOnce(c, Seq(WirePoint("a", Seq(1, 0, 0), Map.empty)))
    val df = WireVdb.read(spark, "qdrant", server.url, c,
      apiKey = Some("sekret-abc123"))
    assert(df.count() == 1)
    val plans = Seq(
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExtendedMode),
      df.queryExecution.executedPlan.toString)
    plans.foreach { p =>
      assert(!p.contains("sekret"), p.linesIterator.take(5).mkString("\n"))
    }
    // the description still identifies the dialect + endpoint
    assert(plans.exists(_.contains("QdrantWire(")), plans.head)
  }

  test("lancedb: describe is memoized — one round-trip across payload-only pages") {
    val c = "ldb_memo"
    val w = LanceDbWire(server.url)
    w.create(c, 3, Metric.Cosine)
    w.upsertOnce(c, (0 until 90).map(i =>
      WirePoint(s"$c-$i", Seq(i.toDouble, 0, 0), Map("rank" -> i.toString))))
    server.requestLog.clear()
    // 3 pages + a fetchByIds, all in the (no-vector, payload) shape
    (0 until 3).foreach(i =>
      w.fetchPage(c, i * 30L, 30, wantVector = false, wantPayload = true))
    w.fetchByIds(c, Seq(s"$c-1", s"$c-2"),
      wantVector = false, wantPayload = true)
    val log = server.requestLog.asScala.toSeq
    assert(log.count(_.contains(s"/v1/table/$c/describe")) == 1,
      log.mkString("\n"))
    assert(log.count(_.contains(s"/v1/table/$c/query")) == 4,
      log.mkString("\n"))
  }

  test("gRPC fatal statuses map out of the retryable band") {
    // the status → HTTP taxonomy: fatal caller errors and UNIMPLEMENTED
    // must not land where the shrink loops retry
    assert(GrpcFraming.statusToHttp(3) == 400) // INVALID_ARGUMENT
    assert(GrpcFraming.statusToHttp(5) == 404) // NOT_FOUND
    assert(GrpcFraming.statusToHttp(8) == 429) // RESOURCE_EXHAUSTED
    assert(GrpcFraming.statusToHttp(12) == 501) // UNIMPLEMENTED
    assert(GrpcFraming.statusToHttp(14) == 503) // UNAVAILABLE
    assert(GrpcFraming.statusToHttp(2) == 500) // UNKNOWN stays transient
    Seq(429, 500, 503).foreach(c => assert(WireHttpError.retryable(c), c))
    Seq(400, 404, 413, 501).foreach(c =>
      assert(!WireHttpError.retryable(c), c))
  }

  test("milvus: describe of a missing collection fails fast with 404") {
    val ms = new MilvusH2Stub
    try {
      val w = MilvusWire(ms.hostPort)
      val e = intercept[WireHttpError] { w.describe("nope") }
      assert(e.code == 404, e.toString)
      assert(!WireHttpError.retryable(e.code))
      // exactly ONE describe hit the wire — no shrink/retry spin
      assert(ms.requestLog.asScala.count(_.contains("describe nope")) == 1,
        ms.requestLog.asScala.mkString("\n"))
    } finally ms.stop()
  }

  test("cli: vertex --endpoint_id/--deployed_index_id reach the wire") {
    val idx = "vtx_flag_idx"
    val dep = "vtx_flag_dep"
    val w = VertexWire(server.url, endpointId = "ignored")
    // stats come from the INDEX resource; listing/hydration page the
    // DEPLOYED index — seed both so the distinct names are observable
    val rows = (0 until 30).map(i =>
      WirePoint(s"p-$i", Seq(i.toDouble, 0, 0), Map("rank" -> i.toString)))
    w.upsertOnce(idx, rows)
    w.upsertOnce(dep, rows)
    val tmp = java.nio.file.Files.createTempDirectory("vtx_flags").toFile
    val out = new java.io.File(tmp, "vdf").getAbsolutePath
    server.requestLog.clear()
    assert(graft.cli.Cli.run(spark, Seq("export", "--db", "vertex",
      "--db_root", server.url, "--collections", idx,
      "--endpoint_id", "ep9", "--deployed_index_id", dep,
      "--out", out)) == 0)
    val log = server.requestLog.asScala.toSeq
    assert(log.exists(_.contains(
      s"/v1/indexEndpoints/ep9:findNeighbors deployed=$dep")),
      log.mkString("\n"))
    assert(log.filter(_.contains(":readIndexDatapoints"))
      .forall(_.contains(s"/v1/indexEndpoints/ep9:")), log.mkString("\n"))
    // and the export actually carried the rows
    val back = spark.read.option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet").parquet(out)
    assert(back.count() == 30)
  }
}
