package graft.connectors

import graft.SparkSpec
import graft.cli.Cli
import graft.connectors.wire._
import graft.core.Metric
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Milvus over gRPC/HTTP/2: the reference's most-used
  * connector (`export_vdf/milvus_export.py:117-158` query_iterator
  * export, `import_vdf/milvus_import.py:111-210` VARCHAR-pk /
  * FLOAT_VECTOR create + shrink-batched upsert), exercised as real
  * bytes against the Milvus stub behind the HTTP/2 server, dialed at a
  * bare host:port. Asserts iterator-batch paging, the
  * ×2/3 shrink on injected faults, the describe surface
  * (dtype 101 = FLOAT_VECTOR), metric round-trip, and the CLI
  * migration path. */
class MilvusWireSpec extends SparkSpec {

  private var m: MilvusH2Stub = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    m = new MilvusH2Stub
  }

  override def afterAll(): Unit = {
    if (m != null) m.stop()
    super.afterAll()
  }

  private def points(n: Int, prefix: String) = {
    val rows = (0 until n).map { i =>
      Row(s"$prefix-$i", Seq(i.toDouble, 1.0 - i * 0.001, 0.25),
        Map("lang" -> s"l${i % 3}", "rank" -> i.toString))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 4), WireVdb.Schema)
  }

  private def asPoints(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0),
      Option(r.getSeq[Double](1)).getOrElse(Seq.empty),
      Option(r.getMap[String, String](2)).map(_.toMap).getOrElse(Map.empty)))
      .toSet

  test("milvus: DSv2 round-trip over framed binary; describe serves dtype 101") {
    val c = "mlv_rt"
    val wire = MilvusWire(m.hostPort)
    wire.create(c, 3, Metric.Euclid)
    val df = points(900, c)
    WireVdb.write(df, "milvus", m.hostPort, c, batchSize = 300)
    val back = WireVdb.read(spark, "milvus", m.hostPort, c, batchSize = 250)
    assert(asPoints(back) == asPoints(df))
    // query pages are offset-partitioned like the sibling dialects
    val pages = m.requestLog.asScala.toSeq.filter(_.startsWith(s"milvus query $c"))
    assert(pages.size == 4, pages.mkString("\n")) // 250×3 + 150
    // the export's schema probe: VARCHAR pk + the dtype-100/101 field
    // (`milvus_export.py:127-135`)
    val sch = wire.describe(c)
    assert(sch.dtype == MilvusWire.DtypeFloatVector)
    assert(sch.dim == 3 && sch.pkField == "id" && sch.vectorField == "vector")
    // metric round-trips: created L2, standardized back to Euclid
    assert(sch.metricType == "L2")
    assert(wire.metricOf(c).contains(Metric.Euclid))
  }

  test("milvus: query_iterator batches walk an opaque token until the EMPTY batch") {
    val c = "mlv_iter"
    val wire = MilvusWire(m.hostPort)
    wire.create(c, 3, Metric.Cosine)
    WireVdb.write(points(260, c), "milvus", m.hostPort, c, batchSize = 260)
    m.requestLog.clear()
    val got = wire.iteratorScan(spark, c, batchSize = 100)
    assert(asPoints(got) == asPoints(points(260, c)))
    val iters = m.requestLog.asScala.toSeq
      .filter(_.startsWith(s"milvus iterate $c"))
    // 100 + 100 + 60 + the terminating empty batch — the reference's
    // `len(res) == 0` close condition (`milvus_export.py:144-148`)
    assert(iters.size == 4, iters.mkString("\n"))
    assert(iters.head.contains("token=-"))
    assert(iters.map(_.split("token=")(1).split(" ")(0)).toList ==
      List("-", "it100", "it200", "it260"), iters.mkString("\n"))
  }

  test("milvus: injected faults shrink the upsert x2/3 — the reference's own loop") {
    val c = "mlv_shrink"
    MilvusWire(m.hostPort).create(c, 3, Metric.Cosine)
    m.requestLog.clear()
    m.failNextWrites(2, 8) // RESOURCE_EXHAUSTED → the 429 class
    WireVdb.write(points(600, c).coalesce(1), "milvus", m.hostPort, c,
      batchSize = 600)
    assert(m.collectionSize(c) == 600)
    val sizes = m.requestLog.asScala.toSeq
      .filter(_.startsWith(s"milvus upsert $c")).map(_.split("n=")(1).toInt)
    // current_batch_size * 2 // 3 (`milvus_import.py:208-210`)
    assert(sizes.take(3) == List(600, 400, 266), sizes.mkString(","))
    // and a read-side fault shrinks the query fetch the same way
    m.requestLog.clear()
    m.failNextReads(1, 14) // UNAVAILABLE → the 503 class
    assert(WireVdb.read(spark, "milvus", m.hostPort, c,
      batchSize = 600).count() == 600)
    val limits = m.requestLog.asScala.toSeq
      .filter(_.startsWith(s"milvus query $c"))
      .map(_.split("limit=")(1).split(" ")(0).toInt)
    assert(limits == List(600, 400, 200), limits.mkString(","))
  }

  test("milvus: pruning and id pushdown reach the frames") {
    val c = "mlv_prune"
    MilvusWire(m.hostPort).create(c, 3, Metric.Cosine)
    WireVdb.write(points(200, c), "milvus", m.hostPort, c, batchSize = 100)
    m.requestLog.clear()
    assert(WireVdb.read(spark, "milvus", m.hostPort, c, 100)
      .select("id").collect().length == 200)
    val slim = m.requestLog.asScala.toSeq.filter(_.contains("milvus query"))
    assert(slim.nonEmpty && slim.forall(p =>
      p.contains("want_vector=false") && p.contains("want_payload=false")))
    // id IN (...) → the `pk in [...]` targeted retrieve, zero paging
    m.requestLog.clear()
    val got = WireVdb.read(spark, "milvus", m.hostPort, c, 200)
      .filter(col("id").isin(s"$c-3", s"$c-150", s"$c-absent")).collect()
    assert(got.map(_.getString(0)).toSet == Set(s"$c-3", s"$c-150"))
    val lg = m.requestLog.asScala.toSeq
    assert(lg.exists(_.startsWith(s"milvus retrieve $c n=3")), lg.mkString("\n"))
    assert(!lg.exists(_.contains("milvus query")), "id pushdown must not page")
  }

  test("milvus: ZILLIZ_CLOUD_TOKEN-style auth rides the authorization header of every call") {
    val c = "mlv_auth"
    val wire = MilvusWire(m.hostPort, token = Some("zilliz-tok"))
    wire.create(c, 3, Metric.Cosine)
    WireVdb.write(points(50, c).coalesce(1), "milvus", m.hostPort, c,
      batchSize = 50, apiKey = Some("zilliz-tok"))
    m.authLog.clear(); m.h2.requestLog.clear()
    assert(WireVdb.read(spark, "milvus", m.hostPort, c, 50,
      apiKey = Some("zilliz-tok")).count() == 50)
    assert(wire.count(c) == 50)
    val entries = m.authLog.asScala.toSeq.filter(_.contains(s" $c "))
    assert(entries.nonEmpty &&
      entries.forall(_.endsWith("token=zilliz-tok")), entries.mkString("\n"))
    // on the wire it is a real HTTP/2 `authorization` header
    val streams = m.h2.requestLog.asScala.toSeq
    assert(streams.nonEmpty && streams.forall(
      _.endsWith("authorization=Bearer zilliz-tok")), streams.mkString("\n"))
    // env sourcing: the key comes from the reference's env var name
    assert(WireAuth.EnvVar("milvus") == "ZILLIZ_CLOUD_TOKEN")
    assert(WireAuth.fromEnv("milvus",
      Map("ZILLIZ_CLOUD_TOKEN" -> "t1")).contains("t1"))
  }

  test("connection reuse: a multi-page scan rides keep-alive channels, not a socket per page") {
    val c = "mlv_reuse"
    val w = MilvusWire(m.hostPort)
    w.create(c, 3, graft.core.Metric.Cosine)
    w.upsertOnce(c, (0 until 400).map(i =>
      WirePoint(s"$c-$i", Seq(i.toDouble, 0, 0), Map("r" -> i.toString))))
    val connBefore = m.h2.connections.get()
    val reqBefore = m.requestLog.size()
    // 40 pages through the DSv2 scan (4 partitions x 10 pages each)
    val back = WireVdb.read(spark, "milvus", m.hostPort, c, batchSize = 10)
    assert(back.count() == 400)
    val pages = m.requestLog.size() - reqBefore
    val conns = m.h2.connections.get() - connBefore
    assert(pages >= 40, s"expected >=40 page requests, saw $pages")
    // every page is a stream on the endpoint's one HTTP/2 connection:
    // the reference's one-channel-per-process shape
    assert(conns <= 1, s"$conns new connections for $pages requests — no reuse")
  }

  test("CLI migration: qdrant --wire--> VDF --wire--> milvus, metric carried") {
    val http = new WireStubServer
    try {
      val c = "mlv_mig"
      val rows = points(320, c)
      // seed the qdrant side with a EUCLID collection so the exported
      // manifest's metric must survive into the milvus create
      QdrantWire(http.url).create(c, 3, Metric.Euclid)
      WireVdb.write(rows, "qdrant", http.url, c, batchSize = 200)
      val vdf = java.nio.file.Files.createTempDirectory("mlv_vdf").toString
      assert(Cli.run(spark, Seq("export", "--db", "qdrant",
        "--db_root", http.url, "--collections", c, "--out", vdf)) == 0)
      // the manifest recorded the READ metric, not a Cosine assumption
      val meta = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(vdf, "VDF_META.json")))
      assert(meta.contains("Euclid"), meta)
      m.requestLog.clear()
      assert(Cli.run(spark, Seq("import", "--db", "milvus",
        "--db_root", m.hostPort, "--dir", vdf)) == 0)
      assert(m.collectionSize(c) == 320)
      // the milvus create carried the manifest's metric as L2
      assert(m.requestLog.asScala.exists(
        _.startsWith(s"milvus create $c dims=3 metric=L2")),
        m.requestLog.asScala.mkString("\n"))
      // fidelity: read back through the DSv2 scan
      val back = WireVdb.read(spark, "milvus", m.hostPort, c).collect()
        .map(r => (r.getString(0), r.getSeq[Double](1).toList,
          r.getMap[String, String](2).toMap)).toSet
      assert(back.size == 320)
      assert(back.contains((s"$c-7", List(7.0, 1.0 - 7 * 0.001, 0.25),
        Map("lang" -> "l1", "rank" -> "7"))))
    } finally http.stop()
  }
}
