package graft.connectors.wire

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.collection.immutable.ArraySeq

/** A gRPC-SHAPED framed binary dialect — the transport the reference
  * PREFERS for its two flagship stores (Pinecone
  * `pinecone_export.py:9` imports the gRPC client; Qdrant
  * `qdrant_export.py:34-39` dials `prefer_grpc=True`) — proving the
  * DSv2 connector stack is not REST-bound: [[GrpcWire]] implements the
  * same [[WireDialect]] trait the three REST dialects do, so scan
  * planning, pruning-to-the-wire, limit pushdown, and the
  * shrink-on-fault write policy all run unchanged over length-prefixed
  * binary frames instead of JSON-over-HTTP.
  *
  * Wire format (the gRPC message layout, hand-framed because the
  * sandbox ships no protobuf/grpc jars):
  *
  *  - every message crosses the socket as gRPC's 5-byte prefix —
  *    1-byte compressed flag (always 0) + 4-byte big-endian length —
  *    followed by the payload;
  *  - payloads are protobuf wire-format TLV: varint keys
  *    `(field << 3) | wireType`, wireType 0 = varint,
  *    2 = length-delimited (strings, nested messages, PACKED doubles
  *    as 8-byte little-endian fixed64s — proto3's `repeated double`);
  *  - responses carry a gRPC STATUS code (0 OK, 8 RESOURCE_EXHAUSTED,
  *    14 UNAVAILABLE), which the client maps onto the same
  *    [[WireHttpError]] taxonomy (429/503) the retry/shrink policies
  *    already speak — one fault vocabulary across both transports.
  */
object GrpcFraming {

  // ---- varint ----
  def writeVarint(out: DataOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) {
      out.writeByte(((v & 0x7f) | 0x80).toInt); v >>>= 7
    }
    out.writeByte(v.toInt)
  }
  def readVarint(in: DataInputStream): Long = {
    var shift = 0; var acc = 0L
    while (true) {
      val b = in.readByte()
      acc |= (b & 0x7fL) << shift
      if ((b & 0x80) == 0) return acc
      shift += 7
    }
    acc
  }

  // ---- TLV fields ----
  def key(field: Int, wire: Int): Long = (field.toLong << 3) | wire
  def writeVarintField(o: DataOutputStream, f: Int, v: Long): Unit = {
    writeVarint(o, key(f, 0)); writeVarint(o, v)
  }
  def writeBytesField(o: DataOutputStream, f: Int, b: Array[Byte]): Unit = {
    writeVarint(o, key(f, 2)); writeVarint(o, b.length); o.write(b)
  }
  def writeStringField(o: DataOutputStream, f: Int, s: String): Unit =
    writeBytesField(o, f, s.getBytes(StandardCharsets.UTF_8))
  /** proto3 `repeated double`, packed: length-delimited run of 8-byte
    * little-endian IEEE doubles. An `ArraySeq.ofDouble` goes in as one
    * bulk put of its primitive array, unboxed. */
  def writePackedDoubles(o: DataOutputStream, f: Int, xs: Seq[Double]): Unit = {
    val buf = ByteBuffer.allocate(xs.size * 8).order(ByteOrder.LITTLE_ENDIAN)
    xs match {
      case a: ArraySeq.ofDouble => buf.asDoubleBuffer().put(a.unsafeArray)
      case _ => xs.foreach(buf.putDouble)
    }
    writeBytesField(o, f, buf.array())
  }
  def readPackedDoubles(b: Array[Byte]): Seq[Double] = {
    val buf = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    Seq.fill(b.length / 8)(buf.getDouble)
  }

  /** Decode one TLV message into (field → values-in-order). Varint
    * fields arrive as Long, length-delimited as Array[Byte]. */
  def readMessage(bytes: Array[Byte]): Map[Int, Seq[Any]] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val acc = scala.collection.mutable.Map[Int, Vector[Any]]()
      .withDefaultValue(Vector.empty)
    while (in.available() > 0) {
      val k = readVarint(in)
      val field = (k >>> 3).toInt
      (k & 7) match {
        case 0 => acc(field) = acc(field) :+ readVarint(in)
        case 2 =>
          val n = readVarint(in).toInt
          val b = new Array[Byte](n); in.readFully(b)
          acc(field) = acc(field) :+ b
        case w => sys.error(s"unsupported wire type $w")
      }
    }
    acc.toMap
  }

  def message(build: DataOutputStream => Unit): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val o = new DataOutputStream(bos)
    build(o); o.flush(); bos.toByteArray
  }

  // ---- the gRPC frame: flag byte + u32 big-endian length + payload ----
  def writeFrame(out: DataOutputStream, payload: Array[Byte]): Unit = {
    out.writeByte(0) // uncompressed
    out.writeInt(payload.length) // DataOutputStream is big-endian
    out.write(payload)
    out.flush()
  }
  def readFrame(in: DataInputStream): Array[Byte] = {
    val flag = in.readByte()
    require(flag == 0, s"compressed frames unsupported (flag=$flag)")
    val n = in.readInt()
    val b = new Array[Byte](n); in.readFully(b)
    b
  }

  // ---- Point message: id=1 string, vector=2 packed double, kv=3.
  // Points ride as repeated field 1 in requests (upsert) and field 3
  // in responses (field 1 there is the status varint). ----
  def writePoint(o: DataOutputStream, p: WirePoint,
      withVector: Boolean, withPayload: Boolean, field: Int = 1): Unit = {
    val body = message { m =>
      writeStringField(m, 1, p.id)
      if (withVector && p.vector.nonEmpty) writePackedDoubles(m, 2, p.vector)
      if (withPayload) p.payload.foreach { case (k, v) =>
        writeBytesField(m, 3, message { kv =>
          writeStringField(kv, 1, k)
          writeStringField(kv, 2, if (v == null) "" else v)
        })
      }
    }
    writeBytesField(o, field, body)
  }
  def readPoint(b: Array[Byte]): WirePoint = {
    val f = readMessage(b)
    WirePoint(
      new String(f(1).head.asInstanceOf[Array[Byte]], StandardCharsets.UTF_8),
      f.get(2).flatMap(_.headOption)
        .map(x => readPackedDoubles(x.asInstanceOf[Array[Byte]]))
        .getOrElse(Seq.empty),
      f.getOrElse(3, Seq.empty).map { kv0 =>
        val kv = readMessage(kv0.asInstanceOf[Array[Byte]])
        new String(kv(1).head.asInstanceOf[Array[Byte]], StandardCharsets.UTF_8) ->
          new String(kv(2).head.asInstanceOf[Array[Byte]], StandardCharsets.UTF_8)
      }.toMap)
  }

  /** gRPC status → the HTTP fault taxonomy the retry policies speak.
    * The fatal statuses map OUT of the retryable band
    * ([[WireHttpError.retryable]]): INVALID_ARGUMENT and NOT_FOUND are
    * caller errors a shrink-and-retry can never fix (a describe of a
    * missing collection must fail fast, not spin the fetch loop), and
    * UNIMPLEMENTED is permanent — 501 is explicitly carved out of the
    * 5xx retry band. */
  def statusToHttp(code: Int): Int = code match {
    case 3 => 400 // INVALID_ARGUMENT — fatal
    case 5 => 404 // NOT_FOUND — fatal
    case 8 => 429 // RESOURCE_EXHAUSTED — retryable
    case 12 => 501 // UNIMPLEMENTED — fatal (excluded from the 5xx band)
    case 14 => 503 // UNAVAILABLE — retryable
    case _ => 500
  }
}

/** Per-JVM keep-alive channel pool for the framed transports (round-10
  * ask: connection reuse). The reference dials ONE channel per process
  * (`milvus_export.py:85-87` `connections.connect`); rounds 8–9's
  * clients instead opened a socket PER CALL — a million-page export
  * paying a TCP connect + teardown per page per partition. One
  * exchange = borrow an idle channel for the endpoint (dialing only
  * when none is free), write one frame, read one frame, return the
  * channel. Concurrency bounds itself: each task thread borrows its
  * own channel, so an executor holds at most #task-threads sockets per
  * endpoint, all reused across pages.
  *
  * Liveness: the existing connect (10 s) and read (30 s) timeouts
  * guard every exchange. A pooled channel can go stale (server
  * restart, idle teardown); it fails its next exchange, is closed, and
  * — for IDEMPOTENT requests only — retries ONCE on a fresh dial (a
  * failure on the fresh channel propagates). The retry can re-send a
  * request the server already applied before dying: reads
  * (describe/count/query/scan), id-keyed deletes, and last-wins
  * upserts re-apply harmlessly, but `create` does not (the re-send can
  * surface ALREADY_EXISTS for a creation that succeeded), so callers
  * tag it `idempotent = false` and its stale-channel failure
  * propagates instead of re-sending.
  *
  * Boundedness: an endpoint's idle queue is capped
  * ([[MaxIdlePerEndpoint]] — returns beyond it close the socket
  * rather than parking it) and idle channels expire after
  * [[IdleTtlMs]] (checked at borrow; an expired channel is closed and
  * the next one tried), so a long-lived executor JVM doesn't retain
  * one socket per task thread per endpoint forever. */
private[wire] object FramedChannelPool {
  /** Idle sockets retained per endpoint; borrows beyond it dial fresh
    * and returns beyond it close — #task-threads sockets can still be
    * IN FLIGHT concurrently, this only bounds what idles between
    * pages. Deploy-tunable (and test-settable) via system property. */
  private def MaxIdlePerEndpoint: Int =
    Integer.getInteger("graft.wire.pool.maxIdle", 8)
  /** Idle expiry: servers commonly reap keep-alives at 60–300 s; expiring
    * ours first turns "stale channel + retry" into a clean fresh dial. */
  private def IdleTtlMs: Long =
    java.lang.Long.getLong("graft.wire.pool.idleTtlMs", 60000L)

  private final class Channel(hostPort: String) {
    @volatile var idleSince: Long = System.currentTimeMillis()
    // `tls://host:port` dials TLS (real gRPC endpoints are
    // TLS-by-default); a bare `host:port` stays plain TCP. The scheme
    // is part of the pool key (the raw endpoint string), so plain and
    // TLS channels to the same port never mix.
    private val tls = hostPort.startsWith("tls://")
    private val Array(h, p) =
      hostPort.stripPrefix("tls://").split(":", 2)
    val sock: Socket = {
      val raw = new Socket()
      raw.connect(new InetSocketAddress(h, p.toInt), 10000)
      val s =
        if (!tls) raw
        else {
          // client trust from the SAME knob the HTTPS dialects use
          // (-Dgraft.wire.truststore / truststorePass; platform roots
          // absent it), and REAL endpoint identification — the
          // handshake must verify the server cert's SAN against the
          // dialed host, not just decrypt
          val ssl = WireTls.clientContextFromProps().getSocketFactory
            .createSocket(raw, h, p.toInt, true)
            .asInstanceOf[javax.net.ssl.SSLSocket]
          val sp = ssl.getSSLParameters
          sp.setEndpointIdentificationAlgorithm("HTTPS")
          ssl.setSSLParameters(sp)
          ssl
        }
      // read timeout too: a server that accepts then stalls mid-frame
      // must fail the call (readFrame/readFully would otherwise block
      // the Spark task forever)
      s.setSoTimeout(30000)
      s.setTcpNoDelay(true)
      if (tls) s.asInstanceOf[javax.net.ssl.SSLSocket].startHandshake()
      s
    }
    val out = new DataOutputStream(sock.getOutputStream)
    val in = new DataInputStream(sock.getInputStream)
    def close(): Unit =
      try sock.close() catch { case _: java.io.IOException => () }
  }

  private val idle = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentLinkedQueue[Channel]]()
  private def queue(hostPort: String) =
    idle.computeIfAbsent(hostPort,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[Channel]())

  /** Fresh dials opened (not reuses) — the observable the reuse spec
    * asserts stays ≪ the page count of a multi-page scan. */
  val dials = new java.util.concurrent.atomic.AtomicLong()

  private def exchangeOn(ch: Channel, payload: Array[Byte]): Array[Byte] = {
    GrpcFraming.writeFrame(ch.out, payload)
    GrpcFraming.readFrame(ch.in)
  }

  /** Return a channel to its endpoint's idle queue — or close it when
    * the queue is already at [[MaxIdlePerEndpoint]]. */
  private def park(hostPort: String, ch: Channel): Unit = {
    val q = queue(hostPort)
    if (q.size >= MaxIdlePerEndpoint) ch.close()
    else { ch.idleSince = System.currentTimeMillis(); q.offer(ch) }
  }

  /** Borrow a live idle channel, discarding any that outlived
    * [[IdleTtlMs]] on the way. */
  private def borrow(hostPort: String): Option[Channel] = {
    val q = queue(hostPort)
    val cutoff = System.currentTimeMillis() - IdleTtlMs
    var ch = q.poll()
    while (ch != null && ch.idleSince < cutoff) { ch.close(); ch = q.poll() }
    Option(ch)
  }

  def exchange(hostPort: String, payload: Array[Byte],
      idempotent: Boolean = true): Array[Byte] =
    borrow(hostPort) match {
      case Some(ch) =>
        try {
          val r = exchangeOn(ch, payload); park(hostPort, ch); r
        } catch {
          case e: java.io.IOException =>
            // stale channel: one fresh retry — but only when a re-send
            // of a possibly-already-applied request is harmless
            ch.close()
            if (idempotent) freshExchange(hostPort, payload) else throw e
        }
      case None => freshExchange(hostPort, payload)
    }

  private def freshExchange(hostPort: String,
      payload: Array[Byte]): Array[Byte] = {
    dials.incrementAndGet()
    val ch = new Channel(hostPort)
    try {
      val r = exchangeOn(ch, payload); park(hostPort, ch); r
    } catch { case e: Throwable => ch.close(); throw e }
  }
}

/** The client half: a [[WireDialect]] over the framed protocol, so the
  * DSv2 scan/write planning drives binary frames exactly as it drives
  * REST. Calls ride per-JVM keep-alive channels
  * ([[FramedChannelPool]] — method id rides field 15 of the request; a
  * production client would multiplex HTTP/2 streams, which changes
  * nothing above this class). */
final case class GrpcWire(hostPort: String,
    token: Option[String] = None) extends WireDialect
    with RedactsCredential {
  import GrpcFraming._

  // transport by scheme, like MilvusWire: h2://host:port = real
  // gRPC-over-HTTP/2 (method as :path, auth as authorization header),
  // h2s:// = the same over TLS+ALPN; bare/tls:// = the framed TCP pool
  // with method/auth on payload fields 15/14
  private val h2 = hostPort.startsWith("h2://") ||
    hostPort.startsWith("h2s://")
  private def h2Endpoint: String =
    if (hostPort.startsWith("h2s://"))
      "tls:" + hostPort.stripPrefix("h2s://")
    else hostPort.stripPrefix("h2://")

  private def call(method: Int, idempotent: Boolean = true)(
      build: DataOutputStream => Unit): Map[Int, Seq[Any]] = {
    val rspBytes =
      if (h2)
        GrpcH2.unframe(GrpcH2Client.call(h2Endpoint,
          GrpcWire.h2Path(method), GrpcH2.frame(message(build)), token))
      else {
        // auth rides field 14 of every request — the framed stand-in
        // for gRPC's `authorization` metadata
        val payload = message { o =>
          token.foreach(writeStringField(o, 14, _))
          writeVarintField(o, 15, method)
          build(o)
        }
        FramedChannelPool.exchange(hostPort, payload, idempotent)
      }
    val rsp = readMessage(rspBytes)
    val status = rsp.get(1).flatMap(_.headOption)
      .map(_.asInstanceOf[Long].toInt).getOrElse(0)
    if (status != 0)
      throw WireHttpError(statusToHttp(status), s"grpc status $status")
    rsp
  }

  override def create(c: String, dims: Int,
      metric: graft.core.Metric): Unit = {
    // NOT idempotent: a stale-channel re-send of a create the server
    // already applied surfaces ALREADY_EXISTS — propagate instead
    call(1, idempotent = false) { o =>
      writeStringField(o, 2, c)
      writeVarintField(o, 9, dims)
      writeStringField(o, 10, metric.name)
    }
    ()
  }

  override def count(c: String): Long =
    call(2) { o =>
      writeStringField(o, 2, c)
    }.get(2).flatMap(_.headOption).map(_.asInstanceOf[Long]).getOrElse(0L)

  override def fetchPage(c: String, offset: Long, limit: Int,
      wantVector: Boolean, wantPayload: Boolean): WirePage = {
    val rsp = call(3) { o =>
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

  override def fetchByIds(c: String, ids: Seq[String],
      wantVector: Boolean, wantPayload: Boolean): Seq[WirePoint] =
    call(4) { o =>
      writeStringField(o, 2, c)
      ids.foreach(writeStringField(o, 7, _))
      writeVarintField(o, 5, if (wantVector) 1 else 0)
      writeVarintField(o, 6, if (wantPayload) 1 else 0)
    }.getOrElse(3, Seq.empty).map(b => readPoint(b.asInstanceOf[Array[Byte]]))

  override def upsertOnce(c: String, points: Seq[WirePoint]): Unit = {
    call(5) { o =>
      writeStringField(o, 2, c)
      points.foreach(p => writePoint(o, p, withVector = true,
        withPayload = true))
    }
    ()
  }
}

object GrpcWire {
  /** The generic dialect's methods as gRPC `:path`es for the H2
    * transport — a neutral service name (a real deployment's paths
    * come from its protos; e.g. Qdrant routes these through
    * `qdrant.Collections`/`qdrant.Points`). */
  private val H2Service = "/graft.v1.VectorService/"
  val h2Path: Map[Int, String] = Map(
    1 -> (H2Service + "Create"), 2 -> (H2Service + "Count"),
    3 -> (H2Service + "Query"), 4 -> (H2Service + "Get"),
    5 -> (H2Service + "Upsert"))
  val h2Method: Map[String, Int] = h2Path.map(_.swap)
}

/** The server half: accept loop over a plain ServerSocket, one framed
  * request → one framed response, same store semantics and fault
  * injection as [[WireStubServer]] so the specs assert identical
  * behaviors across transports. */
final class GrpcStubServer(tls: Option[WireTls.KeyMaterial] = None) {
  import GrpcFraming._

  private val store = new java.util.LinkedHashMap[String,
    (Int, java.util.LinkedHashMap[String, (Seq[Double], Map[String, String])])]()
  val requestLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** `m<method> <collection> token=<field-14 value | ->` per request —
    * the framed stand-in for gRPC authorization metadata, so specs
    * assert the token rides every frame. */
  val authLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val writeFails = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var writeFailStatus = 14
  private val readFails = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var readFailStatus = 14
  @volatile var maxUpsertBatch: Int = Int.MaxValue

  /** Fail the next n writes/reads with a gRPC status (8 =
    * RESOURCE_EXHAUSTED → 429, 14 = UNAVAILABLE → 503). */
  def failNextWrites(n: Int, status: Int): Unit = {
    writeFailStatus = status; writeFails.set(n)
  }
  def failNextReads(n: Int, status: Int): Unit = {
    readFailStatus = status; readFails.set(n)
  }

  // with key material the accept socket speaks TLS and hostPort
  // carries the tls:// scheme the framed channels dial
  private val server: ServerSocket = tls match {
    case Some(km) => WireTls.serverContext(km.keyStore, km.password)
      .getServerSocketFactory.createServerSocket()
    case None => new ServerSocket()
  }
  server.bind(new InetSocketAddress("127.0.0.1", 0))
  val hostPort: String =
    s"${if (tls.isDefined) "tls://" else ""}127.0.0.1:${server.getLocalPort}"

  /** TCP connections ACCEPTED — with keep-alive clients this must stay
    * ≪ the request count (the reuse assertion). */
  val connections = new java.util.concurrent.atomic.AtomicInteger(0)

  // cached pool: keep-alive connections occupy a thread while open, so
  // a fixed-8 pool would starve new connections behind idle ones
  private val pool = java.util.concurrent.Executors.newCachedThreadPool()
  @volatile private var running = true
  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        pool.execute(() => handle(sock))
      } catch { case _: Exception if !running => }
    }
  }, "grpc-stub-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  def stop(): Unit = { running = false; server.close(); pool.shutdown() }

  /** Transport-agnostic dispatch for [[GrpcH2StubServer]]: a real
    * `:path` + `authorization` header routed into the SAME serve the
    * TCP acceptor uses (path → method id, bearer → field 14). */
  def dispatchH2(path: String, auth: Option[String],
      framedReq: Array[Byte]): Array[Byte] = {
    val method = GrpcWire.h2Method.getOrElse(path,
      throw WireHttpError(501, s"unimplemented path $path"))
    val base = GrpcFraming.readMessage(GrpcH2.unframe(framedReq))
    val req = base ++ Map[Int, Seq[Any]](
      15 -> Seq(method.toLong),
      14 -> GrpcH2.bearer(auth).toSeq.map(t =>
        t.getBytes(StandardCharsets.UTF_8)))
    val bos = new java.io.ByteArrayOutputStream()
    serve(req, new DataOutputStream(bos))
    bos.toByteArray
  }

  def collectionSize(c: String): Int = synchronized {
    Option(store.get(c)).map(_._2.size).getOrElse(0)
  }

  private def ensure(c: String, dims: Int): Unit = synchronized {
    if (!store.containsKey(c))
      store.put(c, (dims, new java.util.LinkedHashMap()))
  }
  private def upsert(c: String, pts: Seq[WirePoint]): Unit = synchronized {
    val col = store.get(c)
    require(col != null, s"no such collection $c")
    pts.foreach(p => col._2.put(p.id, (p.vector, p.payload)))
  }
  private def page(c: String, offset: Int, limit: Int): Seq[WirePoint] =
    synchronized {
      val col = store.get(c)
      require(col != null, s"no such collection $c")
      import scala.jdk.CollectionConverters._
      col._2.entrySet().asScala.toSeq.slice(offset, offset + limit)
        .map(e => WirePoint(e.getKey, e.getValue._1, e.getValue._2))
    }
  private def byIds(c: String, ids: Seq[String]): Seq[WirePoint] =
    synchronized {
      val col = store.get(c)
      require(col != null, s"no such collection $c")
      ids.flatMap(id => Option(col._2.get(id))
        .map(v => WirePoint(id, v._1, v._2)))
    }

  private def respond(out: DataOutputStream)(build: DataOutputStream => Unit)
      : Unit = writeFrame(out, message(build))
  private def respondStatus(out: DataOutputStream, status: Int): Unit =
    respond(out)(o => writeVarintField(o, 1, status))

  private def str(f: Map[Int, Seq[Any]], field: Int): String =
    new String(f(field).head.asInstanceOf[Array[Byte]], StandardCharsets.UTF_8)
  private def num(f: Map[Int, Seq[Any]], field: Int, dflt: Long = 0): Long =
    f.get(field).flatMap(_.headOption).map(_.asInstanceOf[Long]).getOrElse(dflt)

  private def handle(sock: Socket): Unit = try {
    connections.incrementAndGet()
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)
    // keep-alive: serve frames on this connection until the client
    // closes it (the channel-pool client reuses one socket per page
    // range; one-shot clients still work — EOF after the first frame)
    while (true) {
      val req =
        try readMessage(readFrame(in))
        catch {
          case _: java.io.EOFException | _: java.net.SocketException =>
            return
        }
      serve(req, out)
    }
  } catch {
    case _: Exception => // connection dropped mid-frame; nothing to answer
  } finally sock.close()

  private def serve(req: Map[Int, Seq[Any]],
      out: DataOutputStream): Unit = {
    val method = num(req, 15)
    val c = str(req, 2)
    authLog.add(s"m$method $c token=" +
      req.get(14).flatMap(_.headOption)
        .map(b => new String(b.asInstanceOf[Array[Byte]],
          StandardCharsets.UTF_8)).getOrElse("-"))
    method match {
      case 1 => // create
        requestLog.add(s"grpc create $c dims=${num(req, 9)}")
        ensure(c, num(req, 9).toInt)
        respondStatus(out, 0)
      case 2 => // count
        requestLog.add(s"grpc count $c")
        respond(out) { o =>
          writeVarintField(o, 1, 0)
          writeVarintField(o, 2, collectionSize(c))
        }
      case 3 => // fetchPage
        val off = num(req, 3).toInt
        val limit = num(req, 4).toInt
        val wantVec = num(req, 5) == 1
        val wantPay = num(req, 6) == 1
        requestLog.add(s"grpc page $c offset=$off limit=$limit " +
          s"want_vector=$wantVec want_payload=$wantPay")
        if (readFails.getAndUpdate(n => math.max(0, n - 1)) > 0)
          respondStatus(out, readFailStatus)
        else {
          val pts = page(c, off, limit)
          respond(out) { o =>
            writeVarintField(o, 1, 0)
            pts.foreach { p =>
              writeBytesField(o, 3, message { m =>
                writeStringField(m, 1, p.id)
                if (wantVec && p.vector.nonEmpty)
                  writePackedDoubles(m, 2, p.vector)
                if (wantPay) p.payload.foreach { case (k, v) =>
                  writeBytesField(m, 3, message { kv =>
                    writeStringField(kv, 1, k)
                    writeStringField(kv, 2, if (v == null) "" else v)
                  })
                }
              })
            }
            writeVarintField(o, 4, pts.size) // listed
          }
        }
      case 4 => // fetchByIds
        val ids = req.getOrElse(7, Seq.empty).map(b =>
          new String(b.asInstanceOf[Array[Byte]], StandardCharsets.UTF_8))
        requestLog.add(s"grpc retrieve $c n=${ids.size} " +
          s"want_vector=${num(req, 5) == 1} want_payload=${num(req, 6) == 1}")
        if (readFails.getAndUpdate(n => math.max(0, n - 1)) > 0)
          respondStatus(out, readFailStatus)
        else {
          val wantVec = num(req, 5) == 1
          val wantPay = num(req, 6) == 1
          val pts = byIds(c, ids)
          respond(out) { o =>
            writeVarintField(o, 1, 0)
            pts.foreach(p => writePoint(o, p,
              withVector = wantVec, withPayload = wantPay, field = 3))
          }
        }
      case 5 => // upsert
        val pts = req.getOrElse(1, Seq.empty).map(b =>
          readPoint(b.asInstanceOf[Array[Byte]]))
        requestLog.add(s"grpc upsert $c n=${pts.size}")
        if (writeFails.getAndUpdate(n => math.max(0, n - 1)) > 0)
          respondStatus(out, writeFailStatus)
        else if (pts.size > maxUpsertBatch)
          respondStatus(out, 8) // RESOURCE_EXHAUSTED — the 413 class
        else {
          ensure(c, pts.headOption.map(_.vector.size).getOrElse(0))
          upsert(c, pts)
          respondStatus(out, 0)
        }
      case m =>
        requestLog.add(s"grpc unknown method $m")
        respondStatus(out, 12) // UNIMPLEMENTED
    }
  }
}
