package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cli.Cli
import graft.connectors.UpsertPolicy
import graft.connectors.wire._
import graft.io.VdfIO

/** qdrant (REST scroll) -> VDF -> milvus (gRPC over HTTP/2), the
  * reference's flagship use, through the CLI against the in-process
  * stub servers.  The source collection is seeded once; each iteration
  * exports into a fresh VDF dir and imports into a fresh milvus stub,
  * so every iteration moves all R rows. */
final class Migrate(ctx: Ctx) extends Workload {
  import ctx.spark

  private val collection = "bench"
  private val source: DataFrame = {
    val df = spark.read.parquet(s"${ctx.opts.inputs}/points.parquet")
      .select(col("id"), col("vector"), col("payload"))
      .persist()
    df.count()
    df
  }
  private val rows = source.count()
  private val dims = source.select(size(col("vector"))).head().getInt(0)

  private var qdrant: WireStubServer = _
  private var seedS = Seq.empty[Double]
  private var seedRequests = 0L
  private var milvus: (MilvusStubServer, GrpcH2StubServer) = _

  private var rowsAttempted = 0L
  private var rowsFailed = 0L
  private var shrinks = 0L
  private val legs = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
  private val tracedLegs = scala.collection.mutable.ArrayBuffer[(Double, Double)]()

  def minIters: Int = 4
  def warmIters: Int = 3

  /** A fresh qdrant stub seeded with the source through WireVdb.write
    * (REST upserts).  Repeated in a traced run; the last one is kept. */
  def prepare(): Unit = {
    Option(qdrant).foreach(_.stop())
    qdrant = new WireStubServer
    WireDialect("qdrant", qdrant.url).create(collection, dims)
    seedS :+= ctx.secs(WireVdb.write(source, "qdrant", qdrant.url, collection))
    seedRequests = qdrant.requestLog.size().toLong
    require(qdrant.collectionSize(collection) == rows,
      s"seed stored ${qdrant.collectionSize(collection)} of $rows rows")
  }

  private def freshMilvus(): Unit = {
    Option(milvus).foreach { case (m, h) => h.stop(); m.stop() }
    val m = new MilvusStubServer()
    milvus = (m, new GrpcH2StubServer(m.dispatchH2))
  }

  private def h2Url = s"h2://${milvus._2.hostPort}"

  private def quiet(body: => Int): Int = {
    val sink = new java.io.ByteArrayOutputStream()
    Console.withOut(sink)(body)
  }

  def iteration(i: Int, traced: Boolean): Iter = {
    freshMilvus()
    val vdf = ctx.freshDir(s"vdf-${i + 1}")
    qdrant.requestLog.clear(); qdrant.authLog.clear()
    val dials0 = GrpcH2Client.dials.get()
    val shrink0 = UpsertPolicy.shrinkEvents.get()
    var exportS, importS = 0.0
    val ((rcE, rcI), m) = ctx.timed(traced) {
      val t0 = System.nanoTime()
      val e = Trace.span("cli.export", "rows" -> rows) {
        quiet(Cli.run(spark, Seq("export", "--db", "qdrant",
          "--db_root", qdrant.url, "--collections", collection, "--out", vdf)))
      }
      val t1 = System.nanoTime()
      val im = Trace.span("cli.import", "rows" -> rows) {
        quiet(Cli.run(spark, Seq("import", "--db", "milvus",
          "--db_root", h2Url, "--dir", vdf)))
      }
      exportS = (t1 - t0) / 1e9
      importS = (System.nanoTime() - t1) / 1e9
      (e, im)
    }
    // correctness: every row reached the target, the manifest accounts
    // for every row, and the import leg kept one HTTP/2 connection (one
    // dial); a wrong total or a re-dial counts one failure each
    val stored = milvus._1.collectionSize(collection).toLong
    val metaRows = VdfIO.readMeta(vdf).indexes.values.flatten
      .map(_.total_vector_count).sum
    val dials = GrpcH2Client.dials.get() - dials0
    val conns = milvus._2.connections.get()
    val wrong = math.max(0L, rows - stored) +
      (if (metaRows == rows) 0L else 1L) +
      (if (dials == 1 && conns == 1) 0L else 1L) +
      (if (rcE == 0 && rcI == 0) 0L else rows)
    val pages = qdrant.requestLog.asScala.count(_.contains("/points/scroll"))
    val layers = Map(
      "cli.export_s" -> exportS,
      "cli.import_s" -> importS,
      "wire.scroll_pages" -> pages.toDouble,
      "wire.rows_per_page" -> (if (pages > 0) rows.toDouble / pages else 0.0),
      "wire.h2_rpcs" -> milvus._2.requestLog.size().toDouble,
      "wire.h2_dials" -> dials.toDouble,
      "wire.h2_connections" -> conns.toDouble,
      "connectors.shrink_events" ->
        (UpsertPolicy.shrinkEvents.get() - shrink0).toDouble)
    rowsAttempted += rows
    rowsFailed += math.min(rows, wrong)
    shrinks += UpsertPolicy.shrinkEvents.get() - shrink0
    if (i >= 0) (if (traced) tracedLegs else legs) += ((exportS, importS))
    milvus._2.requestLog.clear(); milvus._1.requestLog.clear()
    milvus._1.authLog.clear()
    if (i >= 0 && traced) {
      val (mb, files) = Fs.sizeAndFiles(vdf, ".parquet")
      lastVdf.foreach(d => Fs.deleteTree(java.nio.file.Paths.get(d)))
      lastVdf = Some(vdf)
      return Iter(m, wrong == 0, layers ++ Map(
        "io.vdf_mb" -> mb / 1024.0 / 1024.0, "io.vdf_files" -> files.toDouble))
    }
    Fs.deleteTree(java.nio.file.Paths.get(vdf))
    Iter(m, wrong == 0, layers)
  }

  private var lastVdf: Option[String] = None

  /** Order-independent digest of (id, vector) and the rows whose
    * vector differs from the source or is missing. */
  private def compareWithSource(target: DataFrame): (String, String, Long) = {
    def digest(df: DataFrame) = df.select(count(lit(1)), sum(
      xxhash64(col("id"), col("vector").cast("array<double>")).cast("decimal(38,0)")))
      .head().mkString(":")
    val t = target.select(col("id"), col("vector").cast("array<double>").as("tv"))
    val bad = source.join(t, Seq("id"), "left_outer")
      .filter(col("tv").isNull || col("tv") =!= col("vector").cast("array<double>"))
      .count()
    (digest(source), digest(target), bad)
  }

  def finish(traced: Boolean): Map[String, Double] = {
    val hp = h2Url
    ctx.opts.plant.filter(_ == "row").foreach { _ =>
      // planted fault: one stored vector altered at the target
      val one = source.limit(1).withColumn("vector",
        transform(col("vector"), x => x + lit(1.0)))
      WireVdb.write(one, "milvus", hp, collection)
    }
    val back = WireVdb.read(spark, "milvus", hp, collection).persist()
    val (dSrc, dDst0, badRows) = compareWithSource(back)
    back.unpersist()
    val dDst = if (ctx.opts.plant.contains("digest")) dDst0 + "-flipped" else dDst0
    rowsAttempted += rows
    rowsFailed += math.max(badRows, if (dSrc == dDst) 0L else 1L)
    if (!traced) Map.empty else probes()
  }

  /** Each leg's parts, called in isolation on persisted inputs. */
  private def probes(): Map[String, Double] = {
    val vdf = lastVdf.get
    val scanS = Trace.span("wire.scan") {
      ctx.secs(ctx.noop(WireVdb.read(spark, "qdrant", qdrant.url, collection)))
    }
    val frames = VdfIO.readVdf(spark, vdf).map { case (k, df) =>
      val p = df.persist(); p.count(); k -> p }
    val writeS = Trace.span("io.write_vdf") {
      ctx.secs(VdfIO.writeVdf(frames, ctx.freshDir("vdf-probe"),
        exportedFrom = "qdrant"))
    }
    frames.values.foreach(_.unpersist())
    val readS = Trace.span("io.read_vdf") {
      ctx.secs(VdfIO.readVdf(spark, vdf).values.foreach(ctx.noop))
    }
    freshMilvus()
    WireDialect("milvus", h2Url).create(collection, dims)
    val upsertS = Trace.span("wire.upsert_h2") {
      ctx.secs(WireVdb.write(source, "milvus", h2Url, collection))
    }
    // fault probe: three injected 429s must each shrink the batch once;
    // any other reading (a dead counter reads 0) is a failure
    val s0 = UpsertPolicy.shrinkEvents.get()
    qdrant.failNextWrites(if (ctx.opts.plant.contains("probe")) 0 else 3, 429)
    Trace.span("connectors.fault_probe") {
      WireVdb.write(source.limit(3000), "qdrant", qdrant.url, collection)
    }
    val faultShrinks = UpsertPolicy.shrinkEvents.get() - s0
    rowsAttempted += 1
    if (faultShrinks != 3) rowsFailed += 1
    val exportLeg = Stats.median(tracedLegs.map(_._1).toSeq)
    val importLeg = Stats.median(tracedLegs.map(_._2).toSeq)
    Map(
      "wire.scan_s" -> scanS,
      "io.write_vdf_s" -> writeS,
      "io.read_vdf_s" -> readS,
      "wire.upsert_h2_s" -> upsertS,
      "wire.upsert_rest_s" -> Stats.median(seedS),
      "wire.rest_requests" -> seedRequests.toDouble,
      "cli.export_glue_s" -> (exportLeg - scanS - writeS),
      "cli.import_glue_s" -> (importLeg - readS - upsertS),
      "connectors.fault_shrinks" -> faultShrinks.toDouble)
  }

  def attempted: Long = rowsAttempted
  def failed: Long = rowsFailed

  def details: Map[String, Double] = {
    val e = Stats.median(legs.map(_._1).toSeq)
    val im = Stats.median(legs.map(_._2).toSeq)
    Map("rows" -> rows.toDouble, "dims" -> dims.toDouble,
      "rows_per_s" -> rows / Stats.median(legs.map(l => l._1 + l._2).toSeq),
      "export_rows_per_s" -> rows / e, "import_rows_per_s" -> rows / im,
      "shrink_events" -> shrinks.toDouble)
  }

  def close(): Unit = {
    Option(milvus).foreach { case (m, h) => h.stop(); m.stop() }
    Option(qdrant).foreach(_.stop())
  }
}
