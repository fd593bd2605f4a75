package graft.connectors

import graft.SparkSpec
import graft.cli.Cli
import graft.connectors.wire._
import org.apache.spark.sql.Row

import scala.jdk.CollectionConverters._

/** The reference's auth surface on the wire (round-9 ask): every
  * request of an export (scan) and an import (upsert) carries the
  * dialect's API-key header, with keys env-sourced per the reference's
  * `set_arg_from_password` fallbacks (`pinecone_export.py:118-123`,
  * `qdrant_export.py:60-62`, `astradb_export.py:78-83`,
  * `turbopuffer_export.py:33-38`, `weaviate_export.py:38-43`,
  * `milvus_export.py:60-65`). Asserted on the stub's per-request auth
  * log; no secret appears anywhere in main — absent env var =
  * unauthenticated client. */
class WireAuthSpec extends SparkSpec {

  private var server: WireStubServer = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = new WireStubServer
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    super.afterAll()
  }

  private def points(n: Int, prefix: String) = {
    val rows = (0 until n).map { i =>
      Row(s"$prefix-$i", Seq(i.toDouble, 0.5, 1.0), Map("r" -> i.toString))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 2), WireVdb.Schema)
  }

  test("env-var sourcing matches the reference's fallbacks; header shapes are per-service") {
    assert(WireAuth.EnvVar == Map(
      "pinecone" -> "PINECONE_API_KEY",
      "qdrant" -> "QDRANT_API_KEY",
      "chroma" -> "CHROMA_API_KEY",
      "astra" -> "ASTRA_DB_APPLICATION_TOKEN",
      "turbopuffer" -> "TURBOPUFFER_API_KEY",
      "weaviate" -> "WEAVIATE_API_KEY",
      "milvus" -> "ZILLIZ_CLOUD_TOKEN",
      "lancedb" -> "LANCEDB_API_KEY",
      "kdbai" -> "KDBAI_API_KEY"))
    assert(WireAuth.fromEnv("qdrant", Map("QDRANT_API_KEY" -> "k")) ==
      Some("k"))
    assert(WireAuth.fromEnv("qdrant", Map.empty).isEmpty)
    assert(WireAuth.fromEnv("qdrant", Map("QDRANT_API_KEY" -> "")).isEmpty,
      "empty env value must count as absent (hit-return-to-skip)")
    // the public header shapes
    assert(WireAuth.header("pinecone", "k") == ("Api-Key" -> "k"))
    assert(WireAuth.header("qdrant", "k") == ("api-key" -> "k"))
    assert(WireAuth.header("astra", "k") == ("Token" -> "k"))
    assert(WireAuth.header("weaviate", "k") ==
      ("Authorization" -> "Bearer k"))
    assert(WireAuth.header("turbopuffer", "k") ==
      ("Authorization" -> "Bearer k"))
    assert(WireAuth.header("chroma", "k") ==
      ("Authorization" -> "Bearer k"))
  }

  test("qdrant/pinecone/chroma: the key rides EVERY request of an export+import") {
    for ((d, c, key) <- Seq(("qdrant", "auth_q", "qk-1"),
        ("pinecone", "auth_p", "pk-2"), ("chroma", "auth_c", "ck-3"))) {
      WireDialect(d, server.url, Some(key)).create(c, 3)
      server.authLog.clear()
      // import: shrink-batched DSv2 write
      WireVdb.write(points(300, c), d, server.url, c, batchSize = 100,
        apiKey = Some(key))
      // export: offset-partitioned DSv2 scan
      assert(WireVdb.read(spark, d, server.url, c, batchSize = 100,
        apiKey = Some(key)).count() == 300)
      // the log was cleared and the loop is serial, so every entry in
      // the window is this dialect's traffic (pinecone's collection
      // rides in the request BODY, not the path)
      val entries = server.authLog.asScala.toSeq
      assert(entries.nonEmpty, s"$d produced no requests")
      // every single request carried the key (the HTTP stub lowercases
      // header names; the exact per-service name is pinned above)
      assert(entries.forall(e => e.endsWith(s"=$key") ||
        e.endsWith(s"=Bearer $key")),
        s"$d requests missing the key:\n${entries.mkString("\n")}")
      assert(!entries.exists(_.endsWith(" -")),
        s"$d sent unauthenticated requests:\n${entries.mkString("\n")}")
    }
  }

  test("astra/turbopuffer/weaviate: cursor-chain scans and writes carry the key") {
    // astra: Token header
    val ca = "auth_as"
    val astra = AstraWire(server.url, apiKey = Some("astok"))
    astra.write(points(120, ca).coalesce(1), ca, batchSize = 60)
    assert(astra.scan(spark, ca, fetchSize = 50, wantVector = true)
      .count() == 120)
    assert(astra.count(ca) == 120)
    val aEntries = server.authLog.asScala.toSeq
      .filter(e => e.contains("/api/json/v1/") && e.contains(ca))
    assert(aEntries.nonEmpty && aEntries.forall(_.endsWith("=astok")),
      aEntries.mkString("\n"))

    // turbopuffer: bearer
    val ct = "auth_tp"
    val tpuf = TurbopufferWire(server.url, Some("tptok"))
    tpuf.write(points(120, ct).coalesce(1), ct, batchSize = 60)
    assert(tpuf.scan(spark, ct, limit = 50, includeVectors = true)
      .count() == 120)
    val tEntries = server.authLog.asScala.toSeq
      .filter(_.contains(s"/v1/vectors/$ct"))
    assert(tEntries.nonEmpty &&
      tEntries.forall(_.endsWith("=Bearer tptok")), tEntries.mkString("\n"))

    // weaviate: bearer
    val cw = "Auth_wv"
    val weav = WeaviateWire(server.url, Some("wvtok"))
    weav.write(points(120, cw).coalesce(1), cw, batchSize = 60)
    assert(weav.scan(spark, cw, limit = 50, includeVector = true)
      .count() == 120)
    val wEntries = server.authLog.asScala.toSeq
      .filter(e => e.contains("/v1/batch/objects") || e.contains("/v1/objects"))
    assert(wEntries.nonEmpty &&
      wEntries.forall(_.endsWith("=Bearer wvtok")), wEntries.mkString("\n"))
  }

  test("milvus: the token rides the authorization header of every call; CLI --api_key threads it") {
    val g = new MilvusH2Stub
    try {
      val c = "auth_g"
      MilvusWire(g.hostPort, Some("gtok")).create(c, 3)
      WireVdb.write(points(80, c).coalesce(1), "milvus", g.hostPort, c,
        batchSize = 40, apiKey = Some("gtok"))
      assert(WireVdb.read(spark, "milvus", g.hostPort, c, 40,
        apiKey = Some("gtok")).count() == 80)
      val entries = g.authLog.asScala.toSeq.filter(_.contains(s" $c "))
      assert(entries.nonEmpty &&
        entries.forall(_.endsWith("token=gtok")), entries.mkString("\n"))

      // CLI end-to-end: export from qdrant with --api_key, import into
      // milvus with --api_key — the keys ride the respective wires
      val cq = "auth_cli"
      WireDialect("qdrant", server.url, Some("clik")).create(cq, 3)
      WireVdb.write(points(90, cq), "qdrant", server.url, cq,
        batchSize = 45, apiKey = Some("clik"))
      val vdf = java.nio.file.Files.createTempDirectory("auth_vdf").toString
      server.authLog.clear()
      assert(Cli.run(spark, Seq("export", "--db", "qdrant",
        "--db_root", server.url, "--collections", cq, "--out", vdf,
        "--api_key", "clik")) == 0)
      val scrolls = server.authLog.asScala.toSeq
        .filter(_.contains(s"/collections/$cq"))
      assert(scrolls.nonEmpty && scrolls.forall(_.endsWith("=clik")),
        scrolls.mkString("\n"))
      g.authLog.clear()
      assert(Cli.run(spark, Seq("import", "--db", "milvus",
        "--db_root", g.hostPort, "--dir", vdf,
        "--api_key", "gtok2")) == 0)
      val upserts = g.authLog.asScala.toSeq.filter(_.contains(s" $cq "))
      assert(upserts.nonEmpty &&
        upserts.forall(_.endsWith("token=gtok2")), upserts.mkString("\n"))
    } finally g.stop()
  }

  test("qdrant metric read: a Euclid collection is reported Euclid, not Cosine") {
    import graft.core.Metric
    val c = "metric_q"
    val w = QdrantWire(server.url)
    w.create(c, 3, Metric.Euclid)
    assert(w.metricOf(c).contains(Metric.Euclid))
    // through the CLI connector contract (was hardcoded Cosine — r8
    // ADVICE): a wrong metric in VDF_META makes a later import
    // recreate the index under the wrong distance
    val conn = new WireCliConnector("qdrant", server.url, Seq(c))
    assert(conn.metric(c) == Metric.Euclid)
    // dialects with no metric-read call fall back to Cosine
    val pconn = new WireCliConnector("pinecone", server.url, Seq(c))
    assert(pconn.metric(c) == Metric.Cosine)
  }
}
