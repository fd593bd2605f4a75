package graft.connectors.wire

import java.io.DataOutputStream
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.connectors.PaginatedScan
import graft.core.Metric

/** Milvus over gRPC-over-HTTP/2 — the reference's most-used connector
  * whose NATIVE protocol is gRPC
  * (`export_vdf/milvus_export.py:85-87` dials `connections.connect`,
  * `:117-158` exports via `query_iterator` batches over collections
  * whose schema is a VARCHAR primary key + one dtype-100/101 vector
  * field; `import_vdf/milvus_import.py:111-125` creates VARCHAR-pk /
  * FLOAT_VECTOR collections with `enable_dynamic_field=True` and
  * upserts row batches with the same ×2/3 shrink loop this engine's
  * `UpsertPolicy` implements).
  *
  * Two scan shapes, both real Milvus public API:
  *
  *  - [[MilvusWire.fetchPage]]: `query` with `offset`/`limit`
  *    pagination — offset-seekable, so the DSv2 connector plans one
  *    `InputPartition` per page range and executors pull ranges
  *    concurrently (the cluster-scale path);
  *  - [[MilvusWire.iteratorScan]]: the reference's `query_iterator`
  *    loop — an opaque server-side iterator token walked batch by
  *    batch until an EMPTY batch (`milvus_export.py:144-148`:
  *    `len(res) == 0` closes the iterator), via
  *    `PaginatedScan.byContinuation` on one executor per collection.
  *
  * Every call is one unary RPC on [[GrpcH2Client]]'s one HTTP/2
  * connection per endpoint: the method rides `:path`
  * ([[MilvusWire.h2Path]]), the payload is a protobuf-style TLV message
  * ([[GrpcFraming]]), and the token rides the `authorization` header,
  * key sourced from ZILLIZ_CLOUD_TOKEN (`milvus_export.py:60-65`).
  * `hostPort` is `host:port` or `h2://host:port` (cleartext) or
  * `h2s://host:port` (TLS); [[GrpcH2Client.endpoint]] refuses any other
  * scheme. Milvus-flavored fields: the schema surface (describe → pk
  * name, vector field name, dtype 101 = FLOAT_VECTOR, dim, metric_type)
  * and columnar-ish FieldData rows.
  */
final case class MilvusWire(hostPort: String,
    token: Option[String] = None) extends WireDialect
    with RedactsCredential {
  import GrpcFraming._
  import MilvusWire._

  private val endpoint = GrpcH2Client.endpoint(hostPort)

  private def call(method: Int)(
      build: DataOutputStream => Unit): Map[Int, Seq[Any]] = {
    val rsp = readMessage(GrpcH2.unframe(GrpcH2Client.call(endpoint,
      h2Path(method), GrpcH2.frame(message(build)), token)))
    val status = rsp.get(1).flatMap(_.headOption)
      .map(_.asInstanceOf[Long].toInt).getOrElse(0)
    if (status != 0)
      throw WireHttpError(statusToHttp(status), s"milvus status $status")
    rsp
  }

  private def utf8(b: Any): String =
    new String(b.asInstanceOf[Array[Byte]], StandardCharsets.UTF_8)

  /** CreateCollection + AUTOINDEX: VARCHAR pk, FLOAT_VECTOR field,
    * dynamic field on, metric from the VDF manifest
    * (`milvus_import.py:111-150`). */
  override def create(c: String, dims: Int, metric: Metric): Unit = {
    call(MCreate) { o =>
      writeStringField(o, 2, c)
      writeVarintField(o, 9, dims)
      writeStringField(o, 10,
        Metric.toDbName("milvus", metric).getOrElse("COSINE"))
    }
    ()
  }

  /** DescribeCollection: pk field name, vector field name + dtype,
    * dim, and the index's metric_type — what the export reads to find
    * the dtype-100/101 field (`milvus_export.py:127-135`). */
  def describe(c: String): MilvusSchema = {
    val rsp = call(MDescribe) { o =>
      writeStringField(o, 2, c)
    }
    MilvusSchema(
      pkField = utf8(rsp(5).head),
      vectorField = utf8(rsp(6).head),
      dtype = rsp(7).head.asInstanceOf[Long].toInt,
      dim = rsp(8).head.asInstanceOf[Long].toInt,
      metricType = utf8(rsp(9).head))
  }

  override def metricOf(c: String): Option[Metric] =
    Some(Metric.standardize("milvus", describe(c).metricType))

  override def count(c: String): Long =
    call(MCount) { o =>
      writeStringField(o, 2, c)
    }.get(2).flatMap(_.headOption).map(_.asInstanceOf[Long]).getOrElse(0L)

  /** `query` with offset/limit pagination — the offset-seekable public
    * shape the DSv2 range partitions need. */
  override def fetchPage(c: String, offset: Long, limit: Int,
      wantVector: Boolean, wantPayload: Boolean): WirePage = {
    val rsp = call(MQuery) { o =>
      writeStringField(o, 2, c)
      writeVarintField(o, 3, offset)
      writeVarintField(o, 4, limit)
      writeVarintField(o, 5, if (wantVector) 1 else 0)
      writeVarintField(o, 6, if (wantPayload) 1 else 0)
    }
    val pts = rsp.getOrElse(3, Seq.empty)
      .map(b => readPoint(b.asInstanceOf[Array[Byte]]))
    val listed = rsp.get(4).flatMap(_.headOption)
      .map(_.asInstanceOf[Long].toInt).getOrElse(pts.size)
    WirePage(pts, listed)
  }

  /** `query` with a `pk in [...]` expr — the targeted-retrieve form an
    * id pushdown lands on. */
  override def fetchByIds(c: String, ids: Seq[String],
      wantVector: Boolean, wantPayload: Boolean): Seq[WirePoint] =
    call(MRetrieve) { o =>
      writeStringField(o, 2, c)
      ids.foreach(writeStringField(o, 7, _))
      writeVarintField(o, 5, if (wantVector) 1 else 0)
      writeVarintField(o, 6, if (wantPayload) 1 else 0)
    }.getOrElse(3, Seq.empty).map(b => readPoint(b.asInstanceOf[Array[Byte]]))

  /** Upsert a row batch (`collection.upsert`,
    * `milvus_import.py:200-203`); one wire call — shrink/re-split
    * lives in the caller's `UpsertPolicy.batchedWithShrink`, matching
    * the reference's `current_batch_size * 2 // 3` loop
    * (`milvus_import.py:208-210`). */
  override def upsertOnce(c: String, points: Seq[WirePoint]): Unit = {
    call(MUpsert) { o =>
      writeStringField(o, 2, c)
      points.foreach(p => writePoint(o, p, withVector = true,
        withPayload = true))
    }
    ()
  }

  /** One `query_iterator.next()` batch: an absent token opens the
    * iterator, the returned token resumes it, an EMPTY batch ends the
    * chain (`milvus_export.py:142-148`). */
  def iteratorNext(c: String, itToken: Option[String], batchSize: Int,
      wantVector: Boolean): (Seq[WirePoint], Option[String]) = {
    val rsp = call(MIterate) { o =>
      writeStringField(o, 2, c)
      writeVarintField(o, 4, batchSize)
      writeVarintField(o, 5, if (wantVector) 1 else 0)
      writeVarintField(o, 6, 1)
      itToken.foreach(writeStringField(o, 11, _))
    }
    val pts = rsp.getOrElse(3, Seq.empty)
      .map(b => readPoint(b.asInstanceOf[Array[Byte]]))
    // iterator exhaustion IS the empty batch; the token is otherwise
    // always carried forward
    val next =
      if (pts.isEmpty) None
      else rsp.get(11).flatMap(_.headOption).map(utf8)
    (pts, next)
  }

  /** The reference's export loop as a distributed scan: one Spark
    * partition per collection walks the query_iterator chain on an
    * executor until the empty batch. */
  def iteratorScan(spark: SparkSession, c: String, batchSize: Int,
      wantVector: Boolean = true): DataFrame =
    PaginatedScan.byContinuation(spark, WireVdb.Schema, Seq(c)) { (col, tok) =>
      val (pts, next) = iteratorNext(col, tok, batchSize, wantVector)
      (pts.map(WireClients.pointRow), next)
    }
}

object MilvusWire {
  /** Method ids: the keys of [[h2Path]], and what the stub dispatches on. */
  val MCreate = 1
  val MCount = 2
  val MQuery = 3
  val MRetrieve = 4
  val MUpsert = 5
  val MDescribe = 6
  val MIterate = 7

  /** The methods as real gRPC `:path`es. Names follow the
    * MilvusService RPCs these calls correspond to; QueryIterator is
    * the reference's client-side iterator loop surfaced as one RPC
    * name on the stub. */
  private val H2Service = "/milvus.proto.milvus.MilvusService/"
  val h2Path: Map[Int, String] = Map(
    MCreate -> (H2Service + "CreateCollection"),
    MCount -> (H2Service + "GetCollectionStatistics"),
    MQuery -> (H2Service + "Query"),
    MRetrieve -> (H2Service + "Get"),
    MUpsert -> (H2Service + "Upsert"),
    MDescribe -> (H2Service + "DescribeCollection"),
    MIterate -> (H2Service + "QueryIterator"))
  val h2Method: Map[String, Int] = h2Path.map(_.swap)

  /** Milvus DataType values the reference keys on
    * (`milvus_export.py:133`: `f.dtype.value in [100, 101]`). */
  val DtypeBinaryVector = 100
  val DtypeFloatVector = 101
  val DtypeVarchar = 21
}

/** What DescribeCollection returns: the schema surface the export
  * reads (`milvus_export.py:127-135`). */
final case class MilvusSchema(pkField: String, vectorField: String,
    dtype: Int, dim: Int, metricType: String)

/** Stub server half: the Milvus methods behind [[GrpcH2StubServer]]
  * (`new GrpcH2StubServer(stub.dispatchH2)`), with the
  * fault-injection surface the REST stub has so specs assert the same
  * shrink behavior. Iterator state is server-side (real Milvus holds a
  * query cursor); tokens are opaque to the client. The class holds
  * only the store: the HTTP/2 server owns the socket. */
final class MilvusStubServer {
  import GrpcFraming._
  import MilvusWire._

  private final case class Col(dims: Int, metricType: String,
    rows: java.util.LinkedHashMap[String, (Seq[Double], Map[String, String])])

  private val store = new java.util.LinkedHashMap[String, Col]()
  val requestLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** `milvus m<method> <collection> token=<bearer | ->` per request. */
  val authLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val writeFails = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var writeFailStatus = 14
  private val readFails = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var readFailStatus = 14
  @volatile var maxUpsertBatch: Int = Int.MaxValue

  def failNextWrites(n: Int, status: Int): Unit = {
    writeFailStatus = status; writeFails.set(n)
  }
  def failNextReads(n: Int, status: Int): Unit = {
    readFailStatus = status; readFails.set(n)
  }

  /** Drop every collection. */
  def stop(): Unit = synchronized(store.clear())

  /** One unary call: the `:path` picks the method (unknown path → 501
    * → UNIMPLEMENTED in the trailers), the bearer token of the
    * `authorization` header goes to [[authLog]], and the return value
    * is the framed response message. */
  def dispatchH2(path: String, auth: Option[String],
      framedReq: Array[Byte]): Array[Byte] = {
    val method = h2Method.getOrElse(path,
      throw WireHttpError(501, s"unimplemented path $path"))
    val req = readMessage(GrpcH2.unframe(framedReq))
    GrpcH2.frame(message(o => serve(method, GrpcH2.bearer(auth), req, o)))
  }

  def collectionSize(c: String): Int = synchronized {
    Option(store.get(c)).map(_.rows.size).getOrElse(0)
  }

  private def ensure(c: String, dims: Int, metricType: String): Unit =
    synchronized {
      if (!store.containsKey(c))
        store.put(c, Col(dims, metricType, new java.util.LinkedHashMap()))
    }
  private def page(c: String, offset: Int, limit: Int): Seq[WirePoint] =
    synchronized {
      val col = store.get(c)
      require(col != null, s"no such collection $c")
      import scala.jdk.CollectionConverters._
      col.rows.entrySet().asScala.toSeq.slice(offset, offset + limit)
        .map(e => WirePoint(e.getKey, e.getValue._1, e.getValue._2))
    }

  private def str(f: Map[Int, Seq[Any]], field: Int): String =
    new String(f(field).head.asInstanceOf[Array[Byte]], StandardCharsets.UTF_8)
  private def num(f: Map[Int, Seq[Any]], field: Int, dflt: Long = 0): Long =
    f.get(field).flatMap(_.headOption).map(_.asInstanceOf[Long]).getOrElse(dflt)

  private def writePoints(o: DataOutputStream, pts: Seq[WirePoint],
      wantVec: Boolean, wantPay: Boolean): Unit =
    pts.foreach(p => writePoint(o,
      WirePoint(p.id,
        if (wantVec) p.vector else Seq.empty,
        if (wantPay) p.payload else Map.empty),
      withVector = wantVec, withPayload = wantPay, field = 3))

  /** Writes the response message of one call to `o`: field 1 is the
    * status (0 OK), the rest the method's result fields. */
  private def serve(method: Int, token: Option[String],
      req: Map[Int, Seq[Any]], o: DataOutputStream): Unit = {
    val c = str(req, 2)
    authLog.add(s"milvus m$method $c token=${token.getOrElse("-")}")
    def ok(): Unit = writeVarintField(o, 1, 0)
    def fail(status: Int): Unit = writeVarintField(o, 1, status)
    method match {
      case MCreate =>
        val dims = num(req, 9).toInt
        val mt = str(req, 10)
        requestLog.add(s"milvus create $c dims=$dims metric=$mt")
        ensure(c, dims, mt)
        ok()

      case MCount =>
        requestLog.add(s"milvus count $c")
        ok()
        writeVarintField(o, 2, collectionSize(c))

      case MDescribe =>
        requestLog.add(s"milvus describe $c")
        synchronized(Option(store.get(c))) match {
          case None => fail(5) // NOT_FOUND
          case Some(cc) =>
            ok()
            writeStringField(o, 5, "id")
            writeStringField(o, 6, "vector")
            writeVarintField(o, 7, DtypeFloatVector)
            writeVarintField(o, 8, cc.dims)
            writeStringField(o, 9, cc.metricType)
        }

      case MQuery =>
        val off = num(req, 3).toInt
        val limit = num(req, 4).toInt
        val wantVec = num(req, 5) == 1
        val wantPay = num(req, 6) == 1
        requestLog.add(s"milvus query $c offset=$off limit=$limit " +
          s"want_vector=$wantVec want_payload=$wantPay")
        if (readFails.getAndUpdate(n => math.max(0, n - 1)) > 0)
          fail(readFailStatus)
        else {
          val pts = page(c, off, limit)
          ok()
          writePoints(o, pts, wantVec, wantPay)
          writeVarintField(o, 4, pts.size)
        }

      case MIterate =>
        val batch = num(req, 4).toInt
        val wantVec = num(req, 5) == 1
        val tok = req.get(11).flatMap(_.headOption)
          .map(b => new String(b.asInstanceOf[Array[Byte]],
            StandardCharsets.UTF_8))
        requestLog.add(s"milvus iterate $c token=${tok.getOrElse("-")} " +
          s"batch=$batch")
        if (readFails.getAndUpdate(n => math.max(0, n - 1)) > 0)
          fail(readFailStatus)
        else {
          // server-side cursor: the token encodes progress opaquely
          val off = tok.map(_.stripPrefix("it").toInt).getOrElse(0)
          val pts = page(c, off, batch)
          ok()
          writePoints(o, pts, wantVec, wantPay = true)
          writeStringField(o, 11, s"it${off + pts.size}")
        }

      case MRetrieve =>
        val ids = req.getOrElse(7, Seq.empty).map(b =>
          new String(b.asInstanceOf[Array[Byte]], StandardCharsets.UTF_8))
        val wantVec = num(req, 5) == 1
        val wantPay = num(req, 6) == 1
        requestLog.add(s"milvus retrieve $c n=${ids.size} " +
          s"want_vector=$wantVec want_payload=$wantPay")
        if (readFails.getAndUpdate(n => math.max(0, n - 1)) > 0)
          fail(readFailStatus)
        else {
          val pts = synchronized {
            val col = store.get(c)
            require(col != null, s"no such collection $c")
            ids.flatMap(id => Option(col.rows.get(id))
              .map(v => WirePoint(id, v._1, v._2)))
          }
          ok()
          writePoints(o, pts, wantVec, wantPay)
        }

      case MUpsert =>
        val pts = req.getOrElse(1, Seq.empty).map(b =>
          readPoint(b.asInstanceOf[Array[Byte]]))
        requestLog.add(s"milvus upsert $c n=${pts.size}")
        if (writeFails.getAndUpdate(n => math.max(0, n - 1)) > 0)
          fail(writeFailStatus)
        else if (pts.size > maxUpsertBatch)
          fail(8) // RESOURCE_EXHAUSTED
        else {
          ensure(c, pts.headOption.map(_.vector.size).getOrElse(0), "COSINE")
          synchronized {
            val col = store.get(c)
            pts.foreach(p => col.rows.put(p.id, (p.vector, p.payload)))
          }
          ok()
        }

      case m =>
        requestLog.add(s"milvus unknown method $m")
        fail(12) // UNIMPLEMENTED
    }
  }
}
