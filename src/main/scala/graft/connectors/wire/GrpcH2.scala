package graft.connectors.wire

import java.io.{ByteArrayOutputStream, IOException}
import java.nio.ByteBuffer
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, TimeUnit}

import io.netty.bootstrap.{Bootstrap, ServerBootstrap}
import io.netty.buffer.Unpooled
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.{NioServerSocketChannel, NioSocketChannel}
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers, DefaultHttp2HeadersFrame, Http2DataFrame, Http2FrameCodecBuilder, Http2HeadersFrame, Http2MultiplexHandler, Http2StreamChannelBootstrap, Http2StreamFrame}

/** REAL gRPC-over-HTTP/2 — the one gRPC transport, the one the
  * reference's Milvus connector dials (`milvus_export.py:85-87`) —
  * built directly on Netty's HTTP/2 codec (`netty-codec-http2`, on the
  * Spark classpath; grpc-java is not in the offline build).
  *
  * This is the gRPC wire protocol, not a sketch of it:
  *
  *  - ONE HTTP/2 connection per (JVM, endpoint), each unary RPC its
  *    own multiplexed stream — gRPC's channel model (and the
  *    reference's one-`connections.connect`-per-process shape);
  *  - request = HEADERS (`:method POST`, `:scheme http`, `:path
  *    /package.Service/Method`, `content-type application/grpc`,
  *    `te trailers`, auth as a REAL `authorization` header) + DATA
  *    carrying the gRPC 5-byte length-prefixed protobuf message
  *    ([[GrpcFraming]] — the payloads are already protobuf wire
  *    format);
  *  - response = HEADERS (`:status 200`) + DATA + TRAILERS with
  *    `grpc-status`, mapped into the same [[WireHttpError]] fault
  *    taxonomy the REST dialects speak. Errors can also arrive
  *    trailers-only (the grpc convention for failed-before-payload).
  *
  * Endpoints follow one rule ([[endpoint]]): cleartext HTTP/2 with
  * prior knowledge (the `grpc --plaintext` form) or TLS with ALPN. */
object GrpcH2Client {
  // DAEMON event-loop threads: the client group is a process-lifetime
  // singleton with no close hook, and netty's default (non-daemon)
  // threads pin the JVM alive after main returns (found by the r12
  // migration bench hanging at exit)
  private lazy val group = new MultiThreadIoEventLoopGroup(2,
    new io.netty.util.concurrent.DefaultThreadFactory("graft-h2-client", true),
    NioIoHandler.newFactory())

  private[wire] val conns = new ConcurrentHashMap[String, Channel]()

  /** HTTP/2 CONNECTIONS dialed (not streams) — the reuse observable:
    * an N-page scan must ride ~1 connection, N streams. */
  val dials = new java.util.concurrent.atomic.AtomicLong()

  /** The one endpoint rule, from a dialect's URL to the internal form
    * [[call]] takes:
    *  - `h2://host:port` and a bare `host:port` → `host:port`,
    *    cleartext prior-knowledge h2 (`grpc --plaintext`; a real
    *    Milvus on :19530 answers it);
    *  - `h2s://host:port` → `tls:host:port`, TLS with ALPN `h2` and
    *    real endpoint identification, trust from the
    *    `graft.wire.truststore` knob the HTTPS dialects use;
    *  - any other `scheme://` is refused. */
  def endpoint(url: String): String =
    if (url.startsWith("h2://")) url.stripPrefix("h2://")
    else if (url.startsWith("h2s://")) "tls:" + url.stripPrefix("h2s://")
    else if (!url.contains("://")) url
    else throw new IllegalArgumentException(s"unsupported gRPC endpoint " +
      s"'$url': use host:port or h2://host:port (cleartext) or " +
      "h2s://host:port (TLS)")

  /** Dials `endpoint`, given in the internal form [[endpoint]] returns. */
  private def connect(endpoint: String): Channel = {
    val tls = endpoint.startsWith("tls:")
    val Array(h, p) = endpoint.stripPrefix("tls:").split(":", 2)
    dials.incrementAndGet()
    new Bootstrap().group(group).channel(classOf[NioSocketChannel])
      .handler(new ChannelInitializer[SocketChannel] {
        override def initChannel(ch: SocketChannel): Unit = {
          if (tls) {
            val eng = WireTls.clientContextFromProps()
              .createSSLEngine(h, p.toInt)
            eng.setUseClientMode(true)
            val sp = eng.getSSLParameters
            sp.setEndpointIdentificationAlgorithm("HTTPS")
            // ALPN: a real TLS gRPC endpoint negotiates h2
            sp.setApplicationProtocols(Array("h2"))
            eng.setSSLParameters(sp)
            ch.pipeline().addLast(
              new io.netty.handler.ssl.SslHandler(eng))
          }
          // Receive-side flow control, symmetric with the server:
          // SETTINGS raise the PER-STREAM window so a multi-MB fetch
          // response streams without per-stream WINDOW_UPDATE
          // ping-pong, and the CONNECTION window expands the same
          // codec way as on the server — Http2FrameCodec calls
          // tryExpandConnectionFlowControlWindow for clients from
          // userEventTriggered once the preface is written (it
          // can't precede the client preface), reaching ~8.3 MiB.
          // Do NOT force-size stream 0 by hand: see the server
          // initializer for the A/B in which exactly that shrank the
          // codec budget and cost ~2× on bulk transfer.
          ch.pipeline().addLast(
            Http2FrameCodecBuilder.forClient()
              .initialSettings(io.netty.handler.codec.http2.Http2Settings
                .defaultSettings().initialWindowSize(4 * 1024 * 1024))
              .build(),
            // inbound (server-initiated) streams: none expected
            new Http2MultiplexHandler(new ChannelInboundHandlerAdapter()))
        }
      })
      .connect(h, p.toInt).sync().channel()
  }

  /** TLS-material part of the connection cache key: the client SSL
    * context is captured at dial time, so a channel dialed under one
    * `graft.wire.truststore`/`truststorePass` pair must not be reused
    * after the knobs change (WireHttp's client cache keys the same
    * way). Cleartext endpoints carry no TLS material. */
  private def cacheKey(endpoint: String): String =
    if (!endpoint.startsWith("tls:")) endpoint + "|"
    else endpoint + "|" +
      System.getProperty("graft.wire.truststore", "") + "|" +
      System.getProperty("graft.wire.truststorePass", "")

  private def channelFor(endpoint: String): Channel = {
    val key = cacheKey(endpoint)
    val c = conns.get(key)
    if (c != null && c.isActive) c
    else conns.synchronized {
      val again = conns.get(key)
      if (again != null && again.isActive) again
      else {
        // close whatever this entry replaces: the inactive channel
        // under the same key, and any channel to the same endpoint
        // dialed under superseded TLS knobs — replaced channels must
        // not leak their event-loop registrations. In-flight RPCs on a
        // superseded-trust channel fail fast (stream closed before
        // trailers) BY DESIGN: once the operator changes the trust
        // material, completing calls over the old trust would be
        // wrong; callers retry on the fresh channel.
        import scala.jdk.CollectionConverters._
        conns.entrySet().asScala.toList
          .filter(_.getKey.startsWith(endpoint + "|"))
          .foreach { e => e.getValue.close(); conns.remove(e.getKey) }
        val fresh = connect(endpoint)
        conns.put(key, fresh); fresh
      }
    }
  }

  /** One unary RPC as one HTTP/2 stream. `framedBody` and the return
    * value are gRPC 5-byte-prefixed messages (what DATA frames carry
    * on the real wire). Non-zero `grpc-status` → [[WireHttpError]]
    * through the shared taxonomy. */
  def call(endpoint: String, path: String, framedBody: Array[Byte],
      authToken: Option[String] = None): Array[Byte] = {
    val parent = channelFor(endpoint)
    val done = new CompletableFuture[Array[Byte]]()
    val stream = new Http2StreamChannelBootstrap(parent)
      .handler(new ChannelInitializer[Channel] {
        override def initChannel(ch: Channel): Unit =
          ch.pipeline().addLast(new UnaryHandler(done))
      }).open().sync().getNow
    val hdrs = new DefaultHttp2Headers()
      .method("POST")
      .scheme(if (endpoint.startsWith("tls:")) "https" else "http")
      .path(path).authority(endpoint.stripPrefix("tls:"))
    hdrs.set("content-type", "application/grpc")
    hdrs.set("te", "trailers")
    authToken.foreach(t => hdrs.set("authorization", s"Bearer $t"))
    stream.write(new DefaultHttp2HeadersFrame(hdrs, false))
    stream.writeAndFlush(new DefaultHttp2DataFrame(
      Unpooled.wrappedBuffer(framedBody), true))
    try done.get(30, TimeUnit.SECONDS)
    catch {
      case e: java.util.concurrent.ExecutionException =>
        e.getCause match {
          case w: WireHttpError => throw w
          case io: IOException => throw io
          // Netty wraps TLS/codec failures (DecoderException around
          // SSLHandshakeException etc.) — normalize to the IOException
          // contract every other transport failure speaks
          case other => throw new IOException(
            s"grpc/h2 transport failure: $other", other)
        }
      case _: java.util.concurrent.TimeoutException =>
        stream.close()
        throw new IOException(s"grpc/h2 call timed out: $path")
    }
  }

  /** Collects one response: headers (+ possible trailers-only error),
    * DATA payload, trailers with grpc-status. */
  private final class UnaryHandler(done: CompletableFuture[Array[Byte]])
      extends io.netty.channel.SimpleChannelInboundHandler[Http2StreamFrame] {
    private val buf = new ByteArrayOutputStream()
    private var grpcStatus = 0

    private def finish(): Unit = {
      if (grpcStatus != 0)
        done.completeExceptionally(WireHttpError(
          GrpcFraming.statusToHttp(grpcStatus), s"grpc status $grpcStatus"))
      else done.complete(buf.toByteArray)
    }

    override def channelRead0(ctx: ChannelHandlerContext,
        frame: Http2StreamFrame): Unit = frame match {
      case h: Http2HeadersFrame =>
        val st = h.headers().get("grpc-status")
        if (st != null) grpcStatus = st.toString.toInt
        // the RESPONSE headers (trailers carry no ':status'): a
        // non-gRPC reply — a 503 HTML page from an intermediary, say —
        // must surface as a transport error with its HTTP code, not as
        // arbitrary bytes that fail frame-parsing later
        val http = h.headers().status()
        if (http != null) {
          val code = scala.util.Try(http.toString.toInt).getOrElse(502)
          val ct = Option(h.headers().get("content-type")).map(_.toString)
          if (code != 200)
            done.completeExceptionally(WireHttpError(code,
              s"http/2 :status $code (non-grpc response)"))
          else if (st == null && !ct.exists(_.startsWith("application/grpc")))
            done.completeExceptionally(WireHttpError(code,
              s"http/2 content-type ${ct.getOrElse("(none)")} is not application/grpc"))
        }
        if (h.isEndStream) finish()
      case d: Http2DataFrame =>
        val bytes = new Array[Byte](d.content().readableBytes())
        d.content().readBytes(bytes)
        buf.write(bytes)
        if (d.isEndStream) finish()
      case _ => ()
    }

    override def exceptionCaught(ctx: ChannelHandlerContext,
        cause: Throwable): Unit = {
      done.completeExceptionally(cause); ctx.close()
    }

    override def channelInactive(ctx: ChannelHandlerContext): Unit = {
      done.completeExceptionally(
        new IOException("grpc/h2 stream closed before trailers"))
      super.channelInactive(ctx)
    }
  }
}

/** In-process gRPC-over-HTTP/2 server — the test-time peer
  * [[GrpcH2Client]] is asserted against. `dispatch(path,
  * authorization, framedRequest)` returns the framed response for one
  * unary call; a thrown [[WireHttpError]] maps back to its gRPC
  * status in the trailers, an unknown path gets UNIMPLEMENTED (12) —
  * both arrive trailers-only, the real convention for
  * failed-before-payload. */
final class GrpcH2StubServer(
    dispatch: (String, Option[String], Array[Byte]) => Array[Byte],
    tls: Option[WireTls.KeyMaterial] = None) {

  val connections = new java.util.concurrent.atomic.AtomicInteger(0)
  /** `path authorization=<token|->` per stream. */
  val requestLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private val group =
    new MultiThreadIoEventLoopGroup(2, NioIoHandler.newFactory())

  private final class StreamHandler
      extends io.netty.channel.SimpleChannelInboundHandler[Http2StreamFrame] {
    private val body = new ByteArrayOutputStream()
    private var path: String = ""
    private var auth: Option[String] = None

    override def channelRead0(ctx: ChannelHandlerContext,
        frame: Http2StreamFrame): Unit = frame match {
      case h: Http2HeadersFrame =>
        path = Option(h.headers().path()).map(_.toString).getOrElse("")
        auth = Option(h.headers().get("authorization")).map(_.toString)
        if (h.isEndStream) respond(ctx)
      case d: Http2DataFrame =>
        val bytes = new Array[Byte](d.content().readableBytes())
        d.content().readBytes(bytes)
        body.write(bytes)
        if (d.isEndStream) respond(ctx)
      case _ => ()
    }

    private def trailersOnly(ctx: ChannelHandlerContext, status: Int): Unit = {
      val t = new DefaultHttp2Headers().status("200")
      t.set("content-type", "application/grpc")
      t.set("grpc-status", status.toString)
      ctx.writeAndFlush(new DefaultHttp2HeadersFrame(t, true))
    }

    // Application work OFF the event loop, like a real gRPC server's
    // handler executor: the r13 REST-vs-h2 A/B traced the h2 leg's
    // 2.4× gap to dispatch (protobuf decode + store) running ON the
    // connection's single IO thread — every stream of the one shared
    // connection serialized behind it, and the loop couldn't even read
    // the next stream's DATA frames while a handler ran. Netty writes
    // from a worker are safe (they schedule onto the loop).
    private def respond(ctx: ChannelHandlerContext): Unit = {
      val payload = body.toByteArray
      GrpcH2StubServer.handlerPool.execute(() => respondNow(ctx, payload))
    }

    private def respondNow(ctx: ChannelHandlerContext,
        payload: Array[Byte]): Unit = {
      requestLog.add(s"$path authorization=${auth.getOrElse("-")}")
      try {
        val out = dispatch(path, auth, payload)
        val h = new DefaultHttp2Headers().status("200")
        h.set("content-type", "application/grpc")
        ctx.write(new DefaultHttp2HeadersFrame(h, false))
        ctx.write(new DefaultHttp2DataFrame(
          Unpooled.wrappedBuffer(out), false))
        val trailers = new DefaultHttp2Headers()
        trailers.set("grpc-status", "0")
        ctx.writeAndFlush(new DefaultHttp2HeadersFrame(trailers, true))
      } catch {
        case GrpcH2StubServer.NonGrpcResponse(code, ct, bodyBytes) =>
          // simulate an intermediary answering with a plain HTTP
          // response (a 503 HTML error page, say) — what the client's
          // ':status'/content-type guard exists to catch
          val h = new DefaultHttp2Headers().status(code.toString)
          h.set("content-type", ct)
          ctx.write(new DefaultHttp2HeadersFrame(h, false))
          ctx.writeAndFlush(new DefaultHttp2DataFrame(
            Unpooled.wrappedBuffer(bodyBytes), true))
        case WireHttpError(http, _) =>
          // back through the shared taxonomy: 429→8, 503→14, 404→5…
          val grpc = http match {
            case 400 => 3; case 404 => 5; case 429 => 8
            case 501 => 12; case 503 => 14; case _ => 2
          }
          trailersOnly(ctx, grpc)
        case scala.util.control.NonFatal(_) => trailersOnly(ctx, 2)
      }
    }
  }

  private val server = new ServerBootstrap()
    .group(group).channel(classOf[NioServerSocketChannel])
    .childHandler(new ChannelInitializer[SocketChannel] {
      override def initChannel(ch: SocketChannel): Unit = {
        connections.incrementAndGet()
        tls.foreach { km =>
          val eng = WireTls.serverContext(km.keyStore, km.password)
            .createSSLEngine()
          eng.setUseClientMode(false)
          val sp = eng.getSSLParameters
          sp.setApplicationProtocols(Array("h2")) // ALPN
          eng.setSSLParameters(sp)
          ch.pipeline().addLast(new io.netty.handler.ssl.SslHandler(eng))
        }
        // Flow control, the MEASURED configuration (r13b A/B,
        // docs/artifacts/wire_import_ab_r13b.txt):
        //  - PER-STREAM window 4 MiB via SETTINGS_INITIAL_WINDOW_SIZE,
        //    so one multi-MB upsert message streams without
        //    per-stream WINDOW_UPDATE ping-pong;
        //  - CONNECTION window (stream 0): SETTINGS never touches it
        //    (RFC 7540 §6.9.2), and an init-time call on the local
        //    flow controller's initialWindowSize(...) is a no-op (it
        //    only revisits already-active streams). What actually
        //    raises it: Netty's Http2FrameCodec ITSELF — on the server
        //    path, handlerAdded calls
        //    tryExpandConnectionFlowControlWindow, incrementing
        //    stream 0 by 2× the (SETTINGS window − 64 KiB default)
        //    delta, i.e. to ~8.3 MiB here, advertised in an eager
        //    WINDOW_UPDATE(0). The r13b self-review first misread the
        //    stray explicit no-op call as "connection window still
        //    64 KiB" and 'fixed' it with grpc-netty's
        //    sendInitialConnectionWindow pattern sized to 4 MiB —
        //    which SHRANK the codec-expanded budget by half: across 7
        //    interleaved rounds the force-shrunk import leg never beat
        //    5.5 s (minima 131-182k rows/s) while the codec-sized
        //    config dipped to 2.5-3.2 s (318-402k rows/s) within 3-6
        //    rounds the same hour (wire_import_ab_r13b.txt). Hence:
        //    set the SETTINGS window, let the codec size stream 0,
        //    and change neither without an interleaved A/B. GrpcH2Spec
        //    pins the healthy preface at the frame level (per-stream
        //    4 MiB + eager WINDOW_UPDATE(0) ≥ 4 MiB).
        ch.pipeline().addLast(
          Http2FrameCodecBuilder.forServer()
            .initialSettings(io.netty.handler.codec.http2.Http2Settings
              .defaultSettings().initialWindowSize(4 * 1024 * 1024))
            .build(),
          new Http2MultiplexHandler(new ChannelInitializer[Channel] {
            override def initChannel(sc: Channel): Unit =
              sc.pipeline().addLast(new StreamHandler)
          }))
      }
    })
    .bind("127.0.0.1", 0).sync().channel()

  val hostPort: String = {
    val addr = server.localAddress()
      .asInstanceOf[java.net.InetSocketAddress]
    s"127.0.0.1:${addr.getPort}"
  }

  def stop(): Unit = {
    server.close()
    group.shutdownGracefully(0, 100, TimeUnit.MILLISECONDS)
    ()
  }
}

object GrpcH2StubServer {
  /** Thrown by a stub `dispatch` to make the server answer as a
    * NON-gRPC peer (plain HTTP/2 status + body, no grpc-status
    * trailers) — the intermediary-error shape the client must map to
    * [[WireHttpError]] instead of parsing the body as frames. */
  final case class NonGrpcResponse(status: Int, contentType: String,
      body: Array[Byte]) extends RuntimeException

  /** Shared handler executor (DAEMON threads — a surviving non-daemon
    * pool is a JVM-exit hang, the r12 lesson): dispatch runs here so
    * concurrent streams decode/store in parallel instead of
    * serializing on the connection's IO thread. */
  private[wire] val handlerPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      math.max(4, Runtime.getRuntime.availableProcessors() / 2),
      r => {
        val t = new Thread(r, "graft-h2-stub-handler")
        t.setDaemon(true)
        t
      })
}

object GrpcH2 {
  /** The gRPC message prefix DATA frames carry, both directions: flag
    * byte (0 = uncompressed) + u32 big-endian length + payload. */
  def frame(payload: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(5 + payload.length)
      .put(0.toByte).putInt(payload.length).put(payload).array()
  def unframe(framed: Array[Byte]): Array[Byte] = {
    require(framed.length >= 5 && framed(0) == 0,
      s"not an uncompressed gRPC message (${framed.length} bytes)")
    val n = ByteBuffer.wrap(framed, 1, 4).getInt
    require(framed.length - 5 >= n,
      s"truncated gRPC message: $n bytes announced, ${framed.length - 5} sent")
    java.util.Arrays.copyOfRange(framed, 5, 5 + n)
  }

  /** Strip a `Bearer ` prefix from an authorization header value. */
  def bearer(auth: Option[String]): Option[String] =
    auth.map(a => if (a.startsWith("Bearer ")) a.substring(7) else a)
}
