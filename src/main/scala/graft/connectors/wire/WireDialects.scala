package graft.connectors.wire

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.collection.immutable.ArraySeq

/** One point on the wire: the shape all three REST dialects share
  * (Qdrant `{id, vector, payload}`, Pinecone `{id, values, metadata}`,
  * Chroma columnar `{ids[i], embeddings[i], metadatas[i]}`). */
final case class WirePoint(id: String, vector: Seq[Double],
    payload: Map[String, String])

/** One page of a range scan. `listed` is how many ids the service's
  * ENUMERATION step returned for this page — the only signal that can
  * distinguish "collection exhausted" (listed < asked) from "the
  * hydration step omitted some listed ids" (points.size < listed,
  * e.g. Pinecone's /vectors/fetch transiently missing an id). Range
  * readers must advance their offset by `listed`, never by
  * `points.size`, or an omission silently truncates the rest of the
  * partition's range. `omitted` carries exactly WHICH listed ids the
  * hydration step failed to return, so the reader can retry them via
  * the dialect's targeted retrieve instead of silently accepting the
  * loss. */
final case class WirePage(points: Seq[WirePoint], listed: Int,
    omitted: Seq[String] = Seq.empty)

/** Non-2xx response — carries the status code so retry policy can
  * distinguish retryable (429/500/413) from fatal. */
final case class WireHttpError(code: Int, body: String)
    extends RuntimeException(s"HTTP $code: $body")

object WireHttpError {
  /** The one retryable/fatal split every wire retry loop consults:
    * throttling (429) and server-side transients (5xx) retry; 501 Not
    * Implemented is carved out because it is permanent — the gRPC
    * transport maps UNIMPLEMENTED onto it, and shrinking a batch
    * can never make an unimplemented method appear. */
  def retryable(code: Int): Boolean =
    code == 429 || (code >= 500 && code != 501)
}

/** Mixed into every wire client that carries a credential in a
  * constructor field: suppresses the synthetic case-class toString
  * (which would render `Some(<secret>)`) so API keys never reach
  * df.explain() output, the Spark UI SQL tab, or event logs —
  * WireScan.description() embeds the dialect ("via $dialect"), and
  * Spark publishes scan descriptions everywhere plans are displayed.
  * Renders as `Name(<endpoint>)`: the endpoint is always the first
  * constructor field; the credential never prints. */
trait RedactsCredential extends Product {
  override def toString: String = s"$productPrefix(${productElement(0)})"
}

private[wire] object WireHttp {
  // One shared client per (JVM, trust configuration) — executors reuse
  // the connection pool. The TRUST-STORE KNOB
  // (-Dgraft.wire.truststore=<pkcs12> + -Dgraft.wire.truststorePass)
  // points https:// requests at a custom CA bundle (private-CA
  // deployments; the TLS specs' test-time self-signed cert); absent,
  // the platform roots apply. Keyed by BOTH knobs — path AND password
  // — so flipping either takes effect without JVM-global state
  // (keying on the path alone would reuse an SSLContext built with a
  // stale password after a rotation).
  private val clients =
    new java.util.concurrent.ConcurrentHashMap[(String, String), HttpClient]()
  def client: HttpClient = {
    val ts = System.getProperty("graft.wire.truststore", "")
    val pass = System.getProperty("graft.wire.truststorePass", "")
    clients.computeIfAbsent((ts, pass), { case (t, p) =>
      val b = HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10))
      (if (t.isEmpty) b
       else b.sslContext(WireTls.clientContext(
         java.nio.file.Path.of(t), p))).build()
    })
  }

  def post(url: String, body: String,
      headers: Seq[(String, String)] = Nil): Map[String, Any] =
    send(withHeaders(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)), headers))

  def put(url: String, body: String,
      headers: Seq[(String, String)] = Nil): Map[String, Any] =
    send(withHeaders(HttpRequest.newBuilder(URI.create(url))
      .PUT(HttpRequest.BodyPublishers.ofString(body)), headers))

  /** POST a JSON body, ACCEPT a binary (Arrow IPC) response — the
    * LanceDB data-plane read shape: query parameters as JSON, rows
    * back as a record-batch stream. */
  def postAccepting(url: String, body: String, accept: String,
      headers: Seq[(String, String)] = Nil): Array[Byte] = {
    val r = client.send(
      withHeaders(HttpRequest.newBuilder(URI.create(url))
        .POST(HttpRequest.BodyPublishers.ofString(body)), headers)
        .header("Content-Type", "application/json")
        .header("Accept", accept).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    if (r.statusCode() / 100 != 2)
      throw WireHttpError(r.statusCode(), new String(r.body()))
    r.body()
  }

  /** POST a binary (Arrow IPC) body — the LanceDB data-plane write
    * shape (merge-insert rows as a record-batch stream). */
  def postBinary(url: String, body: Array[Byte], contentType: String,
      headers: Seq[(String, String)] = Nil): Unit = {
    val r = client.send(
      withHeaders(HttpRequest.newBuilder(URI.create(url))
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)), headers)
        .header("Content-Type", contentType).build(),
      HttpResponse.BodyHandlers.ofString())
    if (r.statusCode() / 100 != 2)
      throw WireHttpError(r.statusCode(), r.body())
  }

  def get(url: String, headers: Seq[(String, String)] = Nil): String = {
    val r = client.send(
      withHeaders(HttpRequest.newBuilder(URI.create(url)).GET(), headers)
        .build(),
      HttpResponse.BodyHandlers.ofString())
    if (r.statusCode() / 100 != 2) throw WireHttpError(r.statusCode(), r.body())
    r.body()
  }

  private def withHeaders(b: HttpRequest.Builder,
      headers: Seq[(String, String)]): HttpRequest.Builder =
    headers.foldLeft(b) { case (bb, (k, v)) => bb.header(k, v) }

  private def send(b: HttpRequest.Builder): Map[String, Any] = {
    val r = client.send(b.header("Content-Type", "application/json").build(),
      HttpResponse.BodyHandlers.ofString())
    if (r.statusCode() / 100 != 2) throw WireHttpError(r.statusCode(), r.body())
    if (r.body().trim.startsWith("{")) WireJson.parse(r.body()) else Map.empty
  }
}

/** The reference's auth surface, Spark-side: every wire client sends
  * its service's API-key header on EVERY request, with the key sourced
  * from the same environment variables the reference's
  * `set_arg_from_password` prompts fall back to
  * (`pinecone_export.py:118-123` → PINECONE_API_KEY,
  * `qdrant_export.py:60-62` → QDRANT_API_KEY,
  * `astradb_export.py:78-83` → ASTRA_DB_APPLICATION_TOKEN,
  * `turbopuffer_export.py:33-38` → TURBOPUFFER_API_KEY,
  * `weaviate_export.py:38-43` → WEAVIATE_API_KEY,
  * `milvus_export.py:60-65` → ZILLIZ_CLOUD_TOKEN). Header names are
  * each service's public API shape: Pinecone `Api-Key`, Qdrant
  * `api-key`, Astra `Token`, bearer tokens for the rest; milvus's gRPC
  * calls carry it as the `authorization: Bearer` header of every
  * HTTP/2 stream. No secret ever lives in code —
  * absent env var = unauthenticated client, exactly like the
  * reference's skip-on-empty prompt. */
object WireAuth {
  /** dialect → env var the key is sourced from. */
  val EnvVar: Map[String, String] = Map(
    "pinecone" -> "PINECONE_API_KEY",
    "qdrant" -> "QDRANT_API_KEY",
    "chroma" -> "CHROMA_API_KEY",
    "astra" -> "ASTRA_DB_APPLICATION_TOKEN",
    "turbopuffer" -> "TURBOPUFFER_API_KEY",
    "weaviate" -> "WEAVIATE_API_KEY",
    "milvus" -> "ZILLIZ_CLOUD_TOKEN",
    "lancedb" -> "LANCEDB_API_KEY",
    "kdbai" -> "KDBAI_API_KEY")

  /** Source a dialect's key from the environment (injectable for
    * tests — the JVM can't set real env vars). Empty values count as
    * absent, like the reference's hit-return-to-skip prompts. */
  def fromEnv(dialect: String,
      env: Map[String, String] = sys.env): Option[String] =
    EnvVar.get(dialect).flatMap(env.get).filter(_.nonEmpty)

  /** The header a key rides on, per service's public API. */
  def header(dialect: String, key: String): (String, String) =
    dialect match {
      case "pinecone" => "Api-Key" -> key
      case "qdrant" => "api-key" -> key
      case "astra" => "Token" -> key
      // LanceDB Cloud and KDB.AI key headers (HTTP header names are
      // case-insensitive; these are the documented spellings)
      case "lancedb" => "x-api-key" -> key
      case "kdbai" => "X-Api-Key" -> key
      // Chroma / Turbopuffer / Weaviate: bearer tokens
      case _ => "Authorization" -> s"Bearer $key"
    }
}

/** A REST dialect: the four calls the DSv2 wire connector needs. All
  * implementations are tiny case classes (base URL only) so they
  * serialize into Spark tasks; the HttpClient itself is the shared
  * per-JVM pool. `upsertOnce` is ONE wire call — batching, shrink, and
  * retry live in the writer (`UpsertPolicy.batchedWithShrink`), not
  * here, exactly like the reference keeps its shrink loops in the
  * import classes and its client thin. */
trait WireDialect extends Serializable {
  def create(collection: String, dims: Int,
      metric: graft.core.Metric): Unit
  /** Cosine-default convenience — most callers don't care. */
  final def create(collection: String, dims: Int): Unit =
    create(collection, dims, graft.core.Metric.Cosine)
  /** Read the collection's distance metric where the service exposes
    * it (Qdrant collection info, Milvus describe); None where the
    * dialect has no metric-read call — callers fall back to Cosine
    * and should log the assumption, because recording a wrong metric
    * in VDF_META makes a later import recreate the index under the
    * wrong distance. */
  def metricOf(collection: String): Option[graft.core.Metric] = None
  def count(collection: String): Long
  /** One page; `wantVector`/`wantPayload` must reach the wire as the
    * dialect's pruning flags (scroll's with_vector / get's include).
    * `WirePage.listed` carries the enumeration count so callers key
    * exhaustion off the listing, not the hydrated row count. */
  def fetchPage(collection: String, offset: Long, limit: Int,
      wantVector: Boolean, wantPayload: Boolean): WirePage
  /** Targeted retrieve — the wire form an id-equality/IN pushdown
    * lands on (Qdrant points-retrieve, Pinecone fetch, Chroma get
    * with ids). Ids absent from the collection simply don't return. */
  def fetchByIds(collection: String, ids: Seq[String],
      wantVector: Boolean, wantPayload: Boolean): Seq[WirePoint]
  def upsertOnce(collection: String, points: Seq[WirePoint]): Unit
}

private[wire] object Decode {
  /** A JSON number array as a primitive `Array[Double]`, wrapped without
    * a copy — the scan reader hands that array to Catalyst as is. */
  def vec(v: Any): Seq[Double] = v match {
    case null => Seq.empty
    case s: Seq[_] =>
      val a = new Array[Double](s.size)
      var i = 0
      s.foreach { x => a(i) = x.asInstanceOf[Number].doubleValue(); i += 1 }
      ArraySeq.unsafeWrapArray(a)
  }
  /** Payload values stringified; a JSON `null` value drops its key (as
    * the turbopuffer decoder and `WireCliConnector.toWireShape` do),
    * never the string "null". */
  def pay(v: Any): Map[String, String] = v match {
    case null => Map.empty
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      .collect { case (k, x) if x != null => k -> String.valueOf(x) }
  }
}

/** Qdrant REST: scroll + points upsert
  * (`export_vdf/qdrant_export.py:119-137`,
  * `import_vdf/qdrant_import.py:311-343`). The stub's
  * `next_page_offset` is an integer, which this client treats as
  * opaque — pages are requested BY offset so a cluster can shard the
  * scan; real deployments shard by `shard_key_selector` / id ranges
  * (the `PaginatedScan.byIdShards` path) when the token is truly
  * opaque. */
final case class QdrantWire(base: String,
    apiKey: Option[String] = None) extends WireDialect
    with RedactsCredential {
  private def hdrs = apiKey.toSeq.map(WireAuth.header("qdrant", _))

  override def create(c: String, dims: Int,
      metric: graft.core.Metric): Unit =
    WireHttp.put(s"$base/collections/$c", WireJson.write(Map(
      "vectors" -> Map("size" -> dims, "distance" ->
        graft.core.Metric.toDbName("qdrant", metric).getOrElse("Cosine")))),
      hdrs)

  /** Qdrant exposes the metric in the collection info:
    * `result.config.params.vectors.distance`. */
  override def metricOf(c: String): Option[graft.core.Metric] =
    WireJson.parse(WireHttp.get(s"$base/collections/$c", hdrs))
      .get("result").collect { case m: Map[_, _] =>
        m.asInstanceOf[Map[String, Any]] }
      .flatMap(_.get("config")).collect { case m: Map[_, _] =>
        m.asInstanceOf[Map[String, Any]] }
      .flatMap(_.get("params")).collect { case m: Map[_, _] =>
        m.asInstanceOf[Map[String, Any]] }
      .flatMap(_.get("vectors")).collect { case m: Map[_, _] =>
        m.asInstanceOf[Map[String, Any]] }
      .flatMap(_.get("distance")).map(d =>
        graft.core.Metric.standardize("qdrant", d.toString))

  override def count(c: String): Long =
    WireJson.parse(WireHttp.get(s"$base/collections/$c", hdrs))("result")
      .asInstanceOf[Map[String, Any]]("points_count")
      .asInstanceOf[Number].longValue()

  override def fetchPage(c: String, offset: Long, limit: Int,
      wantVector: Boolean, wantPayload: Boolean): WirePage = {
    val rsp = WireHttp.post(s"$base/collections/$c/points/scroll",
      WireJson.write(Map("limit" -> limit, "offset" -> offset,
        "with_vector" -> wantVector, "with_payload" -> wantPayload)), hdrs)
    val pts = rsp("result").asInstanceOf[Map[String, Any]]("points")
      .asInstanceOf[Seq[Any]].map { p0 =>
        val p = p0.asInstanceOf[Map[String, Any]]
        WirePoint(p("id").toString, Decode.vec(p.getOrElse("vector", null)),
          Decode.pay(p.getOrElse("payload", null)))
      }
    WirePage(pts, pts.size) // scroll lists and hydrates in one call
  }

  override def fetchByIds(c: String, ids: Seq[String],
      wantVector: Boolean, wantPayload: Boolean): Seq[WirePoint] = {
    // qdrant's points-retrieve: POST /collections/{c}/points with ids
    val rsp = WireHttp.post(s"$base/collections/$c/points/retrieve",
      WireJson.write(Map("ids" -> ids,
        "with_vector" -> wantVector, "with_payload" -> wantPayload)), hdrs)
    rsp("result").asInstanceOf[Seq[Any]].map { p0 =>
      val p = p0.asInstanceOf[Map[String, Any]]
      WirePoint(p("id").toString, Decode.vec(p.getOrElse("vector", null)),
        Decode.pay(p.getOrElse("payload", null)))
    }
  }

  override def upsertOnce(c: String, points: Seq[WirePoint]): Unit =
    WireHttp.put(s"$base/collections/$c/points", WireJson.write(Map(
      "points" -> points.map(p => Map("id" -> p.id, "vector" -> p.vector,
        "payload" -> p.payload)))), hdrs)
}

/** Pinecone REST: list → fetch for reads (the real API composition —
  * fetch has no paging of its own), upsert for writes
  * (`export_vdf/pinecone_export.py:501-599`,
  * `import_vdf/pinecone_import.py:163-164,267-276`). */
final case class PineconeWire(base: String,
    apiKey: Option[String] = None) extends WireDialect
    with RedactsCredential {
  private def hdrs = apiKey.toSeq.map(WireAuth.header("pinecone", _))

  override def create(c: String, dims: Int,
      metric: graft.core.Metric): Unit = () // index auto-created

  override def count(c: String): Long =
    WireHttp.post(s"$base/describe_index_stats",
        WireJson.write(Map("index" -> c)), hdrs)("namespaces")
      .asInstanceOf[Map[String, Any]]("")
      .asInstanceOf[Map[String, Any]]("vectorCount")
      .asInstanceOf[Number].longValue()

  override def fetchPage(c: String, offset: Long, limit: Int,
      wantVector: Boolean, wantPayload: Boolean): WirePage = {
    val ids = WireHttp.post(s"$base/vectors/list", WireJson.write(Map(
        "index" -> c, "limit" -> limit,
        "paginationToken" -> offset.toString)), hdrs)("vectors")
      .asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[Map[String, Any]]("id").toString)
    if (ids.isEmpty) return WirePage(Seq.empty, 0)
    // id-only scans never call /vectors/fetch at all — the pruning
    // dividend of the list→fetch composition
    if (!wantVector && !wantPayload)
      return WirePage(ids.map(WirePoint(_, Seq.empty, Map.empty)), ids.size)
    val fetched = WireHttp.post(s"$base/vectors/fetch", WireJson.write(Map(
        "index" -> c, "ids" -> ids)), hdrs)("vectors")
      .asInstanceOf[Map[String, Any]]
    // listed = ids.size even when fetch omits some of them: the range
    // reader advances by the LISTING so a transient fetch omission
    // loses only that id, not the rest of the partition's range; the
    // omitted ids ride along so the reader can retry them targeted
    WirePage(ids.flatMap(id => fetched.get(id).map { v0 =>
      val v = v0.asInstanceOf[Map[String, Any]]
      WirePoint(id, Decode.vec(v.getOrElse("values", null)),
        Decode.pay(v.getOrElse("metadata", null)))
    }), ids.size, omitted = ids.filterNot(fetched.contains))
  }

  override def fetchByIds(c: String, ids: Seq[String],
      wantVector: Boolean, wantPayload: Boolean): Seq[WirePoint] = {
    if (ids.isEmpty) return Seq.empty
    val fetched = WireHttp.post(s"$base/vectors/fetch", WireJson.write(Map(
        "index" -> c, "ids" -> ids)), hdrs)("vectors")
      .asInstanceOf[Map[String, Any]]
    ids.flatMap(id => fetched.get(id).map { v0 =>
      val v = v0.asInstanceOf[Map[String, Any]]
      WirePoint(id, Decode.vec(v.getOrElse("values", null)),
        Decode.pay(v.getOrElse("metadata", null)))
    })
  }

  override def upsertOnce(c: String, points: Seq[WirePoint]): Unit =
    WireHttp.post(s"$base/vectors/upsert", WireJson.write(Map(
      "index" -> c,
      "vectors" -> points.map(p => Map("id" -> p.id, "values" -> p.vector,
        "metadata" -> p.payload)))), hdrs)
}

/** Chroma REST: columnar add/get with limit+offset paging
  * (`export_vdf/chroma_export.py:125-141`). The `include` list is the
  * pruning surface — embeddings are omitted from the response when
  * the scan doesn't need them. */
final case class ChromaWire(base: String,
    apiKey: Option[String] = None) extends WireDialect
    with RedactsCredential {
  private def hdrs = apiKey.toSeq.map(WireAuth.header("chroma", _))

  override def create(c: String, dims: Int,
      metric: graft.core.Metric): Unit =
    WireHttp.post(s"$base/api/v1/collections/$c/create", "{}", hdrs)

  override def count(c: String): Long =
    WireHttp.get(s"$base/api/v1/collections/$c/count", hdrs).trim.toLong

  override def fetchPage(c: String, offset: Long, limit: Int,
      wantVector: Boolean, wantPayload: Boolean): WirePage = {
    val include = (if (wantVector) Seq("embeddings") else Nil) ++
      (if (wantPayload) Seq("metadatas") else Nil)
    val rsp = WireHttp.post(s"$base/api/v1/collections/$c/get",
      WireJson.write(Map("limit" -> limit, "offset" -> offset,
        "include" -> include)), hdrs)
    val ids = rsp("ids").asInstanceOf[Seq[Any]].map(_.toString)
    val embs = Option(rsp.getOrElse("embeddings", null))
      .map(_.asInstanceOf[Seq[Any]].map(Decode.vec))
      .getOrElse(ids.map(_ => Seq.empty[Double]))
    val metas = Option(rsp.getOrElse("metadatas", null))
      .map(_.asInstanceOf[Seq[Any]].map(Decode.pay))
      .getOrElse(ids.map(_ => Map.empty[String, String]))
    WirePage(ids.lazyZip(embs).lazyZip(metas).map(WirePoint(_, _, _)),
      ids.size)
  }

  override def fetchByIds(c: String, ids: Seq[String],
      wantVector: Boolean, wantPayload: Boolean): Seq[WirePoint] = {
    val include = (if (wantVector) Seq("embeddings") else Nil) ++
      (if (wantPayload) Seq("metadatas") else Nil)
    val rsp = WireHttp.post(s"$base/api/v1/collections/$c/get",
      WireJson.write(Map("ids" -> ids, "include" -> include)), hdrs)
    val got = rsp("ids").asInstanceOf[Seq[Any]].map(_.toString)
    val embs = Option(rsp.getOrElse("embeddings", null))
      .map(_.asInstanceOf[Seq[Any]].map(Decode.vec))
      .getOrElse(got.map(_ => Seq.empty[Double]))
    val metas = Option(rsp.getOrElse("metadatas", null))
      .map(_.asInstanceOf[Seq[Any]].map(Decode.pay))
      .getOrElse(got.map(_ => Map.empty[String, String]))
    got.lazyZip(embs).lazyZip(metas).map(WirePoint(_, _, _))
  }

  override def upsertOnce(c: String, points: Seq[WirePoint]): Unit =
    WireHttp.post(s"$base/api/v1/collections/$c/add", WireJson.write(Map(
      "ids" -> points.map(_.id),
      "embeddings" -> points.map(_.vector),
      "metadatas" -> points.map(_.payload))), hdrs)
}

/** Vespa's Document API over the wire — NOT a [[WireDialect]]: its
  * pagination is an OPAQUE continuation token (no offset seek), so the
  * scan side plugs into the engine's continuation-chain machinery
  * (`Adapters.Vespa.scan` → `PaginatedScan.byContinuation`, one Spark
  * partition walking one schema's chain on an executor) instead of the
  * offset-partitioned DSv2 scan. URL synthesis is the adapter's
  * (`Adapters.Vespa.visitUrl`/`feedUrl` — `marqo_vespa_util.py:66-95`),
  * so the exact strings the struct-level specs froze are what goes on
  * the wire. Visits retry up to 3× on 429/5xx with the SAME token
  * (tokens are idempotent reads). */
final case class VespaWire(base: String) extends Serializable {
  import graft.connectors.Adapters

  def feed(schema: String, docs: Seq[(String, Map[String, String])]): Unit =
    docs.foreach { case (id, fields) =>
      WireHttp.put(Adapters.Vespa.feedUrl(base, schema, id),
        WireJson.write(Map("fields" -> fields)))
    }

  def visit(schema: String, continuation: Option[String],
      wanted: Int = 100): Adapters.VespaVisitPage = {
    val url = Adapters.Vespa.visitUrl(base, schema, stream = false,
      continuation) + s"&wantedDocumentCount=$wanted"
    var attempt = 0
    while (true) {
      try {
        val rsp = WireJson.parse(WireHttp.get(url))
        return Adapters.VespaVisitPage(
          rsp("pathId").toString,
          rsp("documents").asInstanceOf[Seq[Any]].map { d0 =>
            val d = d0.asInstanceOf[Map[String, Any]]
            Adapters.VespaDoc(d("id").toString,
              d.get("fields").map(_.asInstanceOf[Map[String, Any]])
                .getOrElse(Map.empty))
          },
          rsp("documentCount").asInstanceOf[Number].longValue(),
          rsp.get("continuation").map(_.toString))
      } catch {
        case WireHttpError(code, _) if WireHttpError.retryable(code) &&
            attempt < 3 =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

object WireDialect {
  /** Key sourced from the dialect's env var (PINECONE_API_KEY etc.)
    * unless the caller supplies one explicitly. */
  def apply(name: String, base: String): WireDialect =
    apply(name, base, WireAuth.fromEnv(name))

  def apply(name: String, base: String,
      apiKey: Option[String]): WireDialect = name match {
    case "qdrant" => QdrantWire(base, apiKey)
    case "pinecone" => PineconeWire(base, apiKey)
    case "chroma" => ChromaWire(base, apiKey)
    case "lancedb" => LanceDbWire(base, apiKey)
    case "kdbai" => KdbaiWire(base, apiKey)
    // gRPC over HTTP/2: base is host:port | h2://host:port | h2s://host:port
    case "milvus" => MilvusWire(base, apiKey)
    case other => throw new IllegalArgumentException(
      s"unknown wire dialect '$other' " +
        "(qdrant|pinecone|chroma|lancedb|kdbai|milvus)")
  }
}
