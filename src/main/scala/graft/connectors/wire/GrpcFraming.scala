package graft.connectors.wire

import java.io.{DataInputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.collection.immutable.ArraySeq

/** The protobuf codec of the gRPC messages [[MilvusWire]] exchanges
  * over HTTP/2 ([[GrpcH2Client]]), hand-written because the offline
  * build has no protobuf or grpc-java jars:
  *
  *  - payloads are protobuf wire-format TLV: varint keys
  *    `(field << 3) | wireType`, wireType 0 = varint,
  *    2 = length-delimited (strings, nested messages, PACKED doubles
  *    as 8-byte little-endian fixed64s — proto3's `repeated double`);
  *  - on the wire each message rides the DATA frames behind gRPC's
  *    5-byte prefix ([[GrpcH2.frame]]);
  *  - responses carry a gRPC STATUS code (0 OK, 8 RESOURCE_EXHAUSTED,
  *    14 UNAVAILABLE), which the client maps onto the same
  *    [[WireHttpError]] taxonomy (429/503) the REST dialects' retry
  *    and shrink policies speak.
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
