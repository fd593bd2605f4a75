package graft.connectors.wire

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process HTTP stub speaking the reference connectors' REST
  * dialects — the wire half the zero-egress sandbox otherwise can't
  * exercise. One store, three façades:
  *
  *  - Qdrant: `PUT /collections/{c}`, `PUT /collections/{c}/points`,
  *    `POST /collections/{c}/points/scroll` with
  *    `{limit, offset, with_payload, with_vector}` returning
  *    `{result: {points, next_page_offset}}`
  *    (`export_vdf/qdrant_export.py:119-137` scroll contract,
  *    `import_vdf/qdrant_import.py:311-343` upsert batches);
  *  - Pinecone: `POST /describe_index_stats`, `POST /vectors/list`
  *    (paginationToken), `POST /vectors/fetch` (`{vectors: {id →
  *    {id, values, metadata}}}`), `POST /vectors/upsert`
  *    (`export_vdf/pinecone_export.py:501-599`,
  *    `import_vdf/pinecone_import.py:163-164,267-276`);
  *  - Chroma: `POST /api/v1/collections/{c}/add`,
  *    `POST /api/v1/collections/{c}/get` with `{limit, offset,
  *    include}` returning columnar `{ids, embeddings, metadatas,
  *    documents}` (`export_vdf/chroma_export.py:134-141`).
  *
  * Fault injection drives the clients' adaptive-shrink retry exactly
  * where the reference shrinks: `failNextWrites(n, code)` rejects the
  * next n upserts (429/500), `failNextReads(n, code)` the next n
  * scrolls/gets/fetches, and `maxUpsertBatch` rejects oversized
  * batches with 413 — the payload-too-large class of failure that
  * only a SMALLER retry cures. Every request is appended to
  * `requestLog` (method, path, salient params) so specs assert the
  * bytes-on-the-wire behavior: shrinking batch sizes, pruned-column
  * flags (`with_vector=false`, `include` without embeddings), paging
  * parameters.
  */
final class WireStubServer(tls: Boolean = false) {
  import WireJson._

  // collection → (dims, insertion-ordered id → (vector, payload));
  // last-wins upsert keeps the original position so offset paging is
  // stable across overwrites, like a segment-ordered store
  private val store = new java.util.LinkedHashMap[String,
    (Int, java.util.LinkedHashMap[String, (Seq[Double], Map[String, String])])]()

  // collection → qdrant distance name ("Cosine"/"Euclid"/...), set at
  // create time and served back in the collection info
  private val distances =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  val requestLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** One entry per request: `METHOD /path <header>=<value>` for the
    * recognized auth headers (Api-Key / api-key / Token /
    * Authorization), or `METHOD /path -` when the request carried
    * none — so specs can assert the key rides EVERY request. */
  val authLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val writeFails = new AtomicInteger(0)
  @volatile private var writeFailCode = 500
  private val readFails = new AtomicInteger(0)
  @volatile private var readFailCode = 500
  @volatile var maxUpsertBatch: Int = Int.MaxValue

  /** Ids the Pinecone /vectors/fetch route silently OMITS from its
    * response (while /vectors/list still lists them) — the live-service
    * failure mode where hydration lags enumeration; lets specs prove
    * the range reader advances by the listing and loses only the
    * omitted id, not the rest of the partition. With
    * `omitFromFetchOnce`, the omission clears itself after the first
    * fetch it affects — the TRANSIENT form, provable recoverable by
    * the reader's targeted retry. */
  @volatile var omitFromFetch: Set[String] = Set.empty
  @volatile var omitFromFetchOnce: Boolean = false

  /** Weaviate's effective page cap (QUERY_MAXIMUM_RESULTS): the
    * /v1/objects listing silently truncates each page to this many
    * rows regardless of the requested limit — the live behavior that
    * makes "short page = exhausted" a truncation bug. */
  @volatile var weaviatePageCap: Int = Int.MaxValue

  def failNextWrites(n: Int, code: Int): Unit = {
    writeFailCode = code; writeFails.set(n)
  }
  def failNextReads(n: Int, code: Int): Unit = {
    readFailCode = code; readFails.set(n)
  }

  // tls=true serves the same dialects over HTTPS (test-time
  // self-signed cert, WireTls.testMaterial) — the transport the
  // reference clients all default to; clients reach it through the
  // graft.wire.truststore knob
  private val server =
    if (tls) {
      val hs = com.sun.net.httpserver.HttpsServer.create(
        new InetSocketAddress("127.0.0.1", 0), 0)
      val m = WireTls.testMaterial
      hs.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(
        WireTls.serverContext(m.keyStore, m.password)))
      hs
    } else HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  /** Base URL clients dial — an ephemeral localhost port. */
  val url: String =
    s"${if (tls) "https" else "http"}://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    // the handler pool's threads are non-daemon: left running they pin
    // the JVM alive after main exits (found by the round-12 migration
    // bench hanging at process exit)
    server.getExecutor match {
      case es: java.util.concurrent.ExecutorService => es.shutdown()
      case _ => ()
    }
  }

  def collectionSize(c: String): Int = synchronized {
    Option(store.get(c)).map(_._2.size).getOrElse(0)
  }

  // ------------------------------------------------------------------

  private def ensure(c: String, dims: Int): Unit = synchronized {
    if (!store.containsKey(c))
      store.put(c, (dims, new java.util.LinkedHashMap()))
  }

  private def upsert(c: String,
      pts: Seq[(String, Seq[Double], Map[String, String])]): Unit =
    synchronized {
      val col = store.get(c)
      require(col != null, s"no such collection $c")
      pts.foreach { case (id, v, p) => col._2.put(id, (v, p)) }
    }

  private def page(c: String, offset: Int, limit: Int)
      : Seq[(String, Seq[Double], Map[String, String])] = synchronized {
    val col = store.get(c)
    require(col != null, s"no such collection $c")
    // iterate, don't materialize: entrySet().toSeq copied the WHOLE
    // store per page — O(n²/limit) across a scan, found by the r12
    // migration bench (1M-row export leg 28k → 7.9k rows/s). Skipping
    // offset entries on the live iterator is the linked-map analogue
    // of a segment seek.
    val it = col._2.entrySet().iterator()
    var skip = offset
    while (skip > 0 && it.hasNext) { it.next(); skip -= 1 }
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(String, Seq[Double], Map[String, String])]
    while (buf.size < limit && it.hasNext) {
      val e = it.next()
      buf += ((e.getKey, e.getValue._1, e.getValue._2))
    }
    buf.toSeq
  }

  private def byIds(c: String, ids: Seq[String])
      : Seq[(String, Seq[Double], Map[String, String])] = synchronized {
    val col = store.get(c)
    require(col != null, s"no such collection $c")
    ids.flatMap(id => Option(col._2.get(id)).map(v => (id, v._1, v._2)))
  }

  // Weaviate-style after-cursor: rows strictly AFTER the given id in
  // insertion order (None = from the start)
  private def pageAfter(c: String, after: Option[String], limit: Int)
      : Seq[(String, Seq[Double], Map[String, String])] = synchronized {
    val col = store.get(c)
    require(col != null, s"no such collection $c")
    // same no-materialize treatment as `page`: walk to the cursor id,
    // then take limit — never copy the whole store per page
    val it = col._2.entrySet().iterator()
    after.foreach { id =>
      var found = false
      while (!found && it.hasNext) found = it.next().getKey == id
      // an unknown cursor (e.g. the cursor row deleted mid-scan) must
      // FAIL, not exhaust the iterator into an empty page — a silent
      // truncation the client would read as normal end-of-scan. Real
      // scroll APIs error on an invalid cursor the same way (r12
      // ADVICE; the pre-r12 behavior of restarting from index 0 was
      // equally wrong — duplicated the whole scan prefix).
      require(found, s"unknown cursor id '$id' in collection $c")
    }
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(String, Seq[Double], Map[String, String])]
    while (buf.size < limit && it.hasNext) {
      val e = it.next()
      buf += ((e.getKey, e.getValue._1, e.getValue._2))
    }
    buf.toSeq
  }

  // ------------------------------------------------------------------

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
    ex.close()
  }

  private def respondBytes(ex: HttpExchange, code: Int, bytes: Array[Byte],
      contentType: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
    ex.close()
  }

  private def injectRead(ex: HttpExchange): Boolean =
    if (readFails.getAndUpdate(n => math.max(0, n - 1)) > 0) {
      respond(ex, readFailCode, s"""{"status":"injected"}"""); true
    } else false

  private def injectWrite(ex: HttpExchange): Boolean =
    if (writeFails.getAndUpdate(n => math.max(0, n - 1)) > 0) {
      respond(ex, writeFailCode, s"""{"status":"injected"}"""); true
    } else false

  private def asPoints(v: Any): Seq[Map[String, Any]] =
    v.asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]])

  private def vec(v: Any): Seq[Double] =
    v.asInstanceOf[Seq[Any]].map(x => x.asInstanceOf[Number].doubleValue())

  private def pay(v: Any): Map[String, String] =
    if (v == null) Map.empty
    else v.asInstanceOf[Map[String, Any]].map { case (k, x) =>
      k -> (if (x == null) null else x.toString)
    }

  private def handle(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    authLog.add(s"$method $path " +
      Seq("Api-Key", "api-key", "Token", "x-api-key", "Authorization")
        .flatMap(h => Option(ex.getRequestHeaders.getFirst(h))
          .map(v => s"$h=$v"))
        .headOption.getOrElse("-"))
    val rawBody = ex.getRequestBody.readAllBytes()
    // Arrow-framed bodies (the LanceDB data plane) are binary — only
    // non-Arrow bodies parse as JSON
    val arrowBody = Option(ex.getRequestHeaders.getFirst("Content-Type"))
      .exists(_.contains(WireArrow.Mime))
    val body =
      if (arrowBody) "" else new String(rawBody, StandardCharsets.UTF_8)
    val json: Map[String, Any] =
      if (body.isEmpty) Map.empty else parse(body)

    (method, path.split("/").filter(_.nonEmpty).toList) match {
      // -------------------------------------------------- Qdrant
      case ("PUT", "collections" :: c :: Nil) =>
        val vectors = json.get("vectors")
          .collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
        val dims = vectors.flatMap(_.get("size"))
          .map(_.asInstanceOf[Number].intValue()).getOrElse(0)
        val distance = vectors.flatMap(_.get("distance"))
          .map(_.toString).getOrElse("Cosine")
        requestLog.add(s"PUT /collections/$c dims=$dims distance=$distance")
        ensure(c, dims)
        distances.put(c, distance)
        respond(ex, 200, s"""{"result":true,"status":"ok"}""")

      case ("GET", "collections" :: c :: Nil) =>
        requestLog.add(s"GET /collections/$c")
        respond(ex, 200, write(Map("result" -> Map(
          "points_count" -> collectionSize(c),
          "config" -> Map("params" -> Map("vectors" -> Map(
            "distance" -> distances.getOrDefault(c, "Cosine"))))),
          "status" -> "ok")))

      case ("PUT", "collections" :: c :: "points" :: Nil) =>
        val pts = asPoints(json("points"))
        requestLog.add(s"PUT /collections/$c/points n=${pts.size}")
        if (injectWrite(ex)) return
        if (pts.size > maxUpsertBatch) {
          respond(ex, 413, s"""{"status":"payload too large"}"""); return
        }
        upsert(c, pts.map(p => (p("id").toString, vec(p("vector")),
          pay(p.getOrElse("payload", null)))))
        respond(ex, 200, s"""{"result":{"status":"completed"},"status":"ok"}""")

      case ("POST", "collections" :: c :: "points" :: "retrieve" :: Nil) =>
        val ids = json("ids").asInstanceOf[Seq[Any]].map(_.toString)
        val withVec = json.get("with_vector").forall(_ == true)
        val withPay = json.get("with_payload").forall(_ == true)
        requestLog.add(s"POST /collections/$c/points/retrieve n=${ids.size} " +
          s"with_vector=$withVec with_payload=$withPay")
        if (injectRead(ex)) return
        respond(ex, 200, write(Map("result" ->
          byIds(c, ids).map { case (id, v, p) =>
            Map("id" -> id) ++
              (if (withVec) Map("vector" -> v) else Map.empty) ++
              (if (withPay) Map("payload" -> p) else Map.empty)
          }, "status" -> "ok")))

      case ("POST", "collections" :: c :: "points" :: "scroll" :: Nil) =>
        val limit = json("limit").asInstanceOf[Number].intValue()
        val offset = json.get("offset").filter(_ != null)
          .map(_.asInstanceOf[Number].intValue()).getOrElse(0)
        val withVec = json.get("with_vector").forall(_ == true)
        val withPay = json.get("with_payload").forall(_ == true)
        requestLog.add(s"POST /collections/$c/points/scroll limit=$limit " +
          s"offset=$offset with_vector=$withVec with_payload=$withPay")
        if (injectRead(ex)) return
        val pts = page(c, offset, limit)
        val next: Any =
          if (offset + pts.size >= collectionSize(c)) null
          else offset + pts.size
        respond(ex, 200, write(Map("result" -> Map(
          "points" -> pts.map { case (id, v, p) =>
            Map("id" -> id) ++
              (if (withVec) Map("vector" -> v) else Map.empty) ++
              (if (withPay) Map("payload" -> p) else Map.empty)
          },
          "next_page_offset" -> next), "status" -> "ok")))

      // ------------------------------------------------ Pinecone
      case ("POST", "describe_index_stats" :: Nil) =>
        val c = json.getOrElse("index", "default").toString
        requestLog.add(s"POST /describe_index_stats index=$c")
        respond(ex, 200, write(Map(
          "namespaces" -> Map("" -> Map("vectorCount" -> collectionSize(c))),
          "dimension" -> synchronized {
            Option(store.get(c)).map(_._1).getOrElse(0)
          })))

      case ("POST", "vectors" :: "list" :: Nil) =>
        val c = json.getOrElse("index", "default").toString
        val limit = json("limit").asInstanceOf[Number].intValue()
        val off = json.get("paginationToken").filter(_ != null)
          .map(_.toString.toInt).getOrElse(0)
        requestLog.add(s"POST /vectors/list index=$c limit=$limit token=$off")
        if (injectRead(ex)) return
        val pts = page(c, off, limit)
        val next: Any =
          if (off + pts.size >= collectionSize(c)) null
          else (off + pts.size).toString
        respond(ex, 200, write(Map(
          "vectors" -> pts.map { case (id, _, _) => Map("id" -> id) },
          "pagination" -> Map("next" -> next))))

      case ("POST", "vectors" :: "fetch" :: Nil) =>
        val c = json.getOrElse("index", "default").toString
        val ids = json("ids").asInstanceOf[Seq[Any]].map(_.toString)
        requestLog.add(s"POST /vectors/fetch index=$c n=${ids.size}")
        if (injectRead(ex)) return
        val omitted = omitFromFetch
        if (omitFromFetchOnce && ids.exists(omitted)) {
          omitFromFetch = Set.empty; omitFromFetchOnce = false
        }
        respond(ex, 200, write(Map("vectors" ->
          byIds(c, ids.filterNot(omitted)).map { case (id, v, p) =>
            id -> Map("id" -> id, "values" -> v, "metadata" -> p)
          }.toMap)))

      case ("POST", "vectors" :: "upsert" :: Nil) =>
        val c = json.getOrElse("index", "default").toString
        val pts = asPoints(json("vectors"))
        requestLog.add(s"POST /vectors/upsert index=$c n=${pts.size}")
        if (injectWrite(ex)) return
        if (pts.size > maxUpsertBatch) {
          respond(ex, 413, s"""{"status":"payload too large"}"""); return
        }
        ensure(c, pts.headOption.map(p => vec(p("values")).size).getOrElse(0))
        upsert(c, pts.map(p => (p("id").toString, vec(p("values")),
          pay(p.getOrElse("metadata", null)))))
        respond(ex, 200, write(Map("upsertedCount" -> pts.size)))

      // -------------------------------------------------- Chroma
      case ("POST", "api" :: "v1" :: "collections" :: c :: "create" :: Nil) =>
        requestLog.add(s"POST /api/v1/collections/$c/create")
        ensure(c, 0)
        respond(ex, 200, "true")

      case ("GET", "api" :: "v1" :: "collections" :: c :: "count" :: Nil) =>
        requestLog.add(s"GET /api/v1/collections/$c/count")
        respond(ex, 200, collectionSize(c).toString)

      case ("POST", "api" :: "v1" :: "collections" :: c :: "add" :: Nil) =>
        val ids = json("ids").asInstanceOf[Seq[Any]].map(_.toString)
        requestLog.add(s"POST /api/v1/collections/$c/add n=${ids.size}")
        if (injectWrite(ex)) return
        if (ids.size > maxUpsertBatch) {
          respond(ex, 413, s"""{"status":"payload too large"}"""); return
        }
        val embs = json("embeddings").asInstanceOf[Seq[Any]].map(vec)
        val metas = json.get("metadatas").filter(_ != null)
          .map(_.asInstanceOf[Seq[Any]].map(pay))
          .getOrElse(ids.map(_ => Map.empty[String, String]))
        ensure(c, embs.headOption.map(_.size).getOrElse(0))
        upsert(c, ids.lazyZip(embs).lazyZip(metas).map((i, e, m) => (i, e, m)))
        respond(ex, 200, "true")

      case ("POST", "api" :: "v1" :: "collections" :: c :: "get" :: Nil) =>
        val include = json.get("include")
          .map(_.asInstanceOf[Seq[Any]].map(_.toString))
          .getOrElse(Seq("embeddings", "metadatas"))
        // real Chroma: an `ids` param switches get from paging to a
        // targeted retrieve
        val idsParam = json.get("ids").filter(_ != null)
          .map(_.asInstanceOf[Seq[Any]].map(_.toString))
        val pts = idsParam match {
          case Some(ids) =>
            requestLog.add(s"POST /api/v1/collections/$c/get " +
              s"ids=${ids.size} include=${include.mkString(",")}")
            if (injectRead(ex)) return
            byIds(c, ids)
          case None =>
            val limit = json("limit").asInstanceOf[Number].intValue()
            val offset = json.get("offset")
              .map(_.asInstanceOf[Number].intValue()).getOrElse(0)
            requestLog.add(s"POST /api/v1/collections/$c/get limit=$limit " +
              s"offset=$offset include=${include.mkString(",")}")
            if (injectRead(ex)) return
            page(c, offset, limit)
        }
        respond(ex, 200, write(Map(
          "ids" -> pts.map(_._1),
          "embeddings" ->
            (if (include.contains("embeddings")) pts.map(_._2) else null),
          "metadatas" ->
            (if (include.contains("metadatas")) pts.map(_._3) else null),
          "documents" -> null)))

      // -------------------------------------------------- AstraDB
      // JSON Data API: one command per POST to
      // /api/json/v1/{keyspace}/{collection} — find (pageState paging,
      // $vector projection), insertMany, estimatedDocumentCount
      // (`export_vdf/astradb_export.py:271-303`,
      // `import_vdf/astradb_import.py:225-241`).
      case ("POST", "api" :: "json" :: "v1" :: _ :: c :: Nil) =>
        if (json.contains("estimatedDocumentCount")) {
          requestLog.add(s"POST astra/$c estimatedDocumentCount")
          respond(ex, 200, write(Map("status" ->
            Map("count" -> collectionSize(c)))))
        } else if (json.contains("insertMany")) {
          val docs = json("insertMany").asInstanceOf[Map[String, Any]](
            "documents").asInstanceOf[Seq[Any]]
            .map(_.asInstanceOf[Map[String, Any]])
          requestLog.add(s"POST astra/$c insertMany n=${docs.size}")
          if (injectWrite(ex)) return
          if (docs.size > maxUpsertBatch) {
            respond(ex, 413, s"""{"errors":[{"message":"payload too large"}]}""")
            return
          }
          ensure(c, docs.headOption
            .map(d => vec(d.getOrElse("$vector", Seq.empty)).size).getOrElse(0))
          upsert(c, docs.map { d =>
            (d("_id").toString, vec(d.getOrElse("$vector", Seq.empty)),
              pay(d - "_id" - "$vector"))
          })
          respond(ex, 200, write(Map("status" ->
            Map("insertedIds" -> docs.map(_("_id").toString)))))
        } else if (json.contains("find")) {
          val find = json("find").asInstanceOf[Map[String, Any]]
          val options = find.get("options")
            .map(_.asInstanceOf[Map[String, Any]]).getOrElse(Map.empty)
          val limit = options.get("limit")
            .map(_.asInstanceOf[Number].intValue()).getOrElse(20)
          val state = options.get("pageState").filter(_ != null).map(_.toString)
          // projection {"$vector": 0} excludes the vector (Data API style)
          val wantVec = !find.get("projection")
            .map(_.asInstanceOf[Map[String, Any]])
            .exists(p => p.get("$vector").exists(v =>
              v == 0 || v == false || v == java.lang.Boolean.FALSE))
          requestLog.add(s"POST astra/$c find limit=$limit " +
            s"pageState=${state.getOrElse("-")} vector=$wantVec")
          if (injectRead(ex)) return
          val off = state.map(_.stripPrefix("p").toInt).getOrElse(0)
          val pts = page(c, off, limit)
          val next: Any =
            if (off + pts.size >= collectionSize(c)) null
            else s"p${off + pts.size}"
          respond(ex, 200, write(Map("data" -> Map(
            "documents" -> pts.map { case (id, v, p) =>
              Map("_id" -> id) ++
                (if (wantVec) Map("$vector" -> v) else Map.empty) ++ p
            },
            "nextPageState" -> next))))
        } else {
          requestLog.add(s"POST astra/$c unknown-command")
          respond(ex, 400, s"""{"errors":[{"message":"unknown command"}]}""")
        }

      // ----------------------------------------------- Turbopuffer
      // COLUMNAR upsert + cursor-chained export
      // (`turbopuffer_import.py:148-158`, `turbopuffer_export.py:64-110`).
      case ("POST", "v1" :: "vectors" :: ns :: Nil) =>
        val ids = json("ids").asInstanceOf[Seq[Any]].map(_.toString)
        requestLog.add(s"POST /v1/vectors/$ns n=${ids.size}")
        if (injectWrite(ex)) return
        if (ids.size > maxUpsertBatch) {
          respond(ex, 413, s"""{"status":"payload too large"}"""); return
        }
        val vecs = json("vectors").asInstanceOf[Seq[Any]].map(vec)
        val attrs = json.get("attributes").filter(_ != null)
          .map(_.asInstanceOf[Map[String, Any]].map { case (k, vs) =>
            k -> vs.asInstanceOf[Seq[Any]]
          }).getOrElse(Map.empty)
        ensure(ns, vecs.headOption.map(_.size).getOrElse(0))
        upsert(ns, ids.zipWithIndex.map { case (id, i) =>
          (id, vecs(i), attrs.flatMap { case (k, vs) =>
            Option(vs(i)).map(v => k -> v.toString)
          })
        })
        respond(ex, 200, s"""{"status":"OK"}""")

      case ("GET", "v1" :: "vectors" :: ns :: Nil) =>
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val params = q.split("&").filter(_.contains("="))
          .map { kv => val a = kv.split("=", 2); a(0) -> a(1) }.toMap
        val limit = params.get("limit").flatMap(_.toIntOption).getOrElse(100)
        val includeVecs = params.get("include_vectors").forall(_ == "true")
        val off = params.get("cursor")
          .map(_.stripPrefix("c")).flatMap(_.toIntOption).getOrElse(0)
        requestLog.add(s"GET /v1/vectors/$ns limit=$limit " +
          s"cursor=${params.getOrElse("cursor", "-")} " +
          s"include_vectors=$includeVecs")
        if (injectRead(ex)) return
        val pts = page(ns, off, limit)
        val keys = pts.flatMap(_._3.keys).distinct
        val next: Any =
          if (off + pts.size >= collectionSize(ns)) null
          else s"c${off + pts.size}"
        respond(ex, 200, write(Map(
          "ids" -> pts.map(_._1),
          "vectors" -> (if (includeVecs) pts.map(_._2) else null),
          "attributes" -> keys.map(k =>
            k -> pts.map(_._3.get(k).orNull)).toMap,
          "next_cursor" -> next)))

      // -------------------------------------------------- Weaviate
      // batch writes + the exhaustive after-cursor object listing
      // (public /v1/batch/objects and /v1/objects?class=&after= APIs;
      // the reference's weaviate_export.py:78-89 stops at a count).
      case ("POST", "v1" :: "batch" :: "objects" :: Nil) =>
        val objs = json("objects").asInstanceOf[Seq[Any]]
          .map(_.asInstanceOf[Map[String, Any]])
        val cls = objs.headOption.map(_("class").toString).getOrElse("?")
        requestLog.add(s"POST /v1/batch/objects class=$cls n=${objs.size}")
        if (injectWrite(ex)) return
        if (objs.size > maxUpsertBatch) {
          respond(ex, 413, s"""{"error":[{"message":"payload too large"}]}""")
          return
        }
        ensure(cls, objs.headOption
          .map(o => vec(o.getOrElse("vector", Seq.empty)).size).getOrElse(0))
        upsert(cls, objs.map { o =>
          (o("id").toString, vec(o.getOrElse("vector", Seq.empty)),
            pay(o.getOrElse("properties", null)))
        })
        respond(ex, 200, write(objs.map(o => Map("id" -> o("id").toString,
          "result" -> Map("status" -> "SUCCESS")))))

      case ("GET", "v1" :: "objects" :: Nil) =>
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val params = q.split("&").filter(_.contains("="))
          .map { kv => val a = kv.split("=", 2); a(0) -> a(1) }.toMap
        val cls = params.getOrElse("class", "?")
        val limit = params.get("limit").flatMap(_.toIntOption).getOrElse(25)
        val after = params.get("after")
        val includeVec = params.get("include").exists(_.contains("vector"))
        requestLog.add(s"GET /v1/objects class=$cls limit=$limit " +
          s"after=${after.getOrElse("-")} include=${params.getOrElse("include", "-")}")
        if (injectRead(ex)) return
        val pts = pageAfter(cls, after, math.min(limit, weaviatePageCap))
        respond(ex, 200, write(Map("objects" -> pts.map { case (id, v, p) =>
          Map("id" -> id, "class" -> cls, "properties" -> p) ++
            (if (includeVec) Map("vector" -> v) else Map.empty)
        })))

      // --------------------------------------------------- Vespa
      // Document API (`marqo_vespa_util.py:66-95` visit contract;
      // public /document/v1 shape): the path doubles the schema name,
      // pagination is an OPAQUE continuation token, and feed is one
      // id-addressed PUT per document.
      case ("PUT", "document" :: "v1" :: sch :: _ :: "docid" :: id :: Nil) =>
        requestLog.add(s"PUT /document/v1/$sch/$sch/docid/$id")
        if (injectWrite(ex)) return
        val fields = json.get("fields")
          .map(_.asInstanceOf[Map[String, Any]]).getOrElse(Map.empty)
        ensure(sch, 0)
        upsert(sch, Seq((id, Seq.empty, pay(fields))))
        respond(ex, 200, write(Map(
          "id" -> s"id:$sch:$sch::$id",
          "pathId" -> s"/document/v1/$sch/$sch/docid/$id")))

      case ("GET", "document" :: "v1" :: sch :: _ :: "docid" :: Nil) =>
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val params = q.split("&").filter(_.contains("="))
          .map { kv => val a = kv.split("=", 2); a(0) -> a(1) }.toMap
        val wanted = params.get("wantedDocumentCount")
          .flatMap(_.toIntOption).getOrElse(100)
        val off = params.get("continuation")
          .map(_.stripPrefix("c")).flatMap(_.toIntOption).getOrElse(0)
        requestLog.add(s"GET /document/v1/$sch/$sch/docid " +
          s"wanted=$wanted continuation=${params.getOrElse("continuation", "-")}")
        if (injectRead(ex)) return
        val pts = page(sch, off, wanted)
        val more = off + pts.size < collectionSize(sch)
        respond(ex, 200, write(Map(
          "pathId" -> s"/document/v1/$sch/$sch/docid",
          "documents" -> pts.map { case (id, _, p) =>
            Map("id" -> s"id:$sch:$sch::$id", "fields" -> p)
          },
          "documentCount" -> pts.size) ++
          (if (more) Map("continuation" -> s"c${off + pts.size}")
           else Map.empty)))

      // -------------------------------------------------- LanceDB
      // Cloud REST: table-scoped ops with trailing slashes —
      // describe / count_rows / query (offset+limit+columns allowlist
      // +filter) / merge_insert?on=id / create / create_index / index
      // (`export_vdf/lancedb_export.py:68-141`,
      // `import_vdf/lancedb_import.py:64-160`).
      case ("POST", "v1" :: "table" :: t :: op :: Nil) => op match {
        case "create" =>
          val dims = json.get("dims")
            .map(_.asInstanceOf[Number].intValue()).getOrElse(0)
          requestLog.add(s"POST /v1/table/$t/create dims=$dims")
          ensure(t, dims)
          respond(ex, 200, "{}")

        case "create_index" =>
          val metric = json.getOrElse("metric", "Cosine").toString
          requestLog.add(s"POST /v1/table/$t/create_index metric=$metric")
          distances.put(t, metric)
          respond(ex, 200, "{}")

        case "index" =>
          requestLog.add(s"POST /v1/table/$t/index")
          respond(ex, 200, write(Map("indexes" -> Seq(Map(
            "column" -> "vector",
            "metric" -> distances.getOrDefault(t, "Cosine"))))))

        case "describe" =>
          requestLog.add(s"POST /v1/table/$t/describe")
          val payloadKeys = synchronized {
            import scala.jdk.CollectionConverters._
            Option(store.get(t)).toSeq
              .flatMap(_._2.values().asScala.flatMap(_._2.keys)).distinct
          }
          respond(ex, 200, write(Map("schema" -> Map("columns" ->
            (Seq("id", "vector") ++ payloadKeys).map(n =>
              Map("name" -> n))))))

        case "count_rows" =>
          requestLog.add(s"POST /v1/table/$t/count_rows")
          respond(ex, 200, write(Map("count" -> collectionSize(t))))

        case "query" =>
          val limit = json.get("limit")
            .map(_.asInstanceOf[Number].intValue()).getOrElse(10)
          val offset = json.get("offset")
            .map(_.asInstanceOf[Number].intValue()).getOrElse(0)
          val cols = json.get("columns").filter(_ != null)
            .map(_.asInstanceOf[Seq[Any]].map(_.toString))
          val filter = json.get("filter").filter(_ != null).map(_.toString)
          requestLog.add(s"POST /v1/table/$t/query limit=$limit " +
            s"offset=$offset columns=${cols.map(_.mkString(",")).getOrElse("*")} " +
            s"filter=${filter.getOrElse("-")}")
          if (injectRead(ex)) return
          // only the id-IN filter the client emits is modeled
          val pts = filter match {
            case Some(f) if f.startsWith("id IN (") =>
              val ids = f.stripPrefix("id IN (").stripSuffix(")")
                .split(",").map(_.trim.stripPrefix("'").stripSuffix("'")
                  .replace("''", "'")).toSeq
              byIds(t, ids)
            case _ => page(t, offset, limit)
          }
          def keep(name: String) = cols.forall(_.contains(name))
          // content negotiation: Arrow IPC when the client Accepts it
          // (the managed service's real response framing), JSON
          // otherwise — identical rows/fields either way
          val wantsArrow = Option(ex.getRequestHeaders.getFirst("Accept"))
            .exists(_.contains(WireArrow.Mime))
          if (wantsArrow)
            respondBytes(ex, 200, WireArrow.encodePoints(
              pts.map { case (id, v, p) =>
                WirePoint(id, if (keep("vector")) v else Seq.empty,
                  p.filter { case (k, _) => keep(k) })
              }, includeVector = keep("vector")), WireArrow.Mime)
          else
            respond(ex, 200, write(Map("rows" -> pts.map { case (id, v, p) =>
              Map("id" -> id) ++
                (if (keep("vector")) Map("vector" -> v) else Map.empty) ++
                p.filter { case (k, _) => keep(k) }
            })))

        case "merge_insert" =>
          // rows arrive as an Arrow IPC stream (the service's write
          // framing) or as the JSON shape — same fields either way
          val rows: Seq[Map[String, Any]] =
            if (arrowBody)
              WireArrow.decodePoints(rawBody).map(p =>
                Map[String, Any]("id" -> p.id, "vector" -> p.vector) ++
                  p.payload)
            else json("rows").asInstanceOf[Seq[Any]]
              .map(_.asInstanceOf[Map[String, Any]])
          val on = Option(ex.getRequestURI.getQuery).getOrElse("")
          requestLog.add(s"POST /v1/table/$t/merge_insert?$on " +
            s"framing=${if (arrowBody) "arrow" else "json"} n=${rows.size}")
          if (injectWrite(ex)) return
          if (rows.size > maxUpsertBatch) {
            respond(ex, 413, s"""{"error":"payload too large"}"""); return
          }
          ensure(t, rows.headOption
            .map(r => vec(r.getOrElse("vector", Seq.empty)).size).getOrElse(0))
          upsert(t, rows.map { r =>
            (r("id").toString, vec(r.getOrElse("vector", Seq.empty)),
              pay(r - "id" - "vector"))
          })
          respond(ex, 200, "{}")

        case other =>
          requestLog.add(s"POST /v1/table/$t/$other (404)")
          respond(ex, 404, s"""{"error":"no table op $other"}""")
      }

      // --------------------------------------------------- KDB.AI
      // REST query API: /api/v1/config/table/{t} create+describe,
      // /api/v1/data queries (aggs count, q-style in-filter,
      // limit/offset paging — NO projection, like table.query()),
      // /api/v1/insert row batches (`export_vdf/kdbai_export.py:107-120`,
      // `import_vdf/kdbai_import.py:150-182`).
      case ("POST", "api" :: "v1" :: "config" :: "table" :: t :: Nil) =>
        val colsJson = json.get("schema")
          .map(_.asInstanceOf[Map[String, Any]])
          .flatMap(_.get("columns")).map(_.asInstanceOf[Seq[Any]]
            .map(_.asInstanceOf[Map[String, Any]])).getOrElse(Seq.empty)
        val vi = colsJson.flatMap(_.get("vectorIndex"))
          .headOption.map(_.asInstanceOf[Map[String, Any]])
        requestLog.add(s"POST /api/v1/config/table/$t cols=${colsJson.size}")
        ensure(t, vi.flatMap(_.get("dims"))
          .map(_.asInstanceOf[Number].intValue()).getOrElse(0))
        vi.flatMap(_.get("metric")).foreach(m =>
          distances.put(t, m.toString))
        respond(ex, 200, "{}")

      case ("GET", "api" :: "v1" :: "config" :: "table" :: t :: Nil) =>
        requestLog.add(s"GET /api/v1/config/table/$t")
        respond(ex, 200, write(Map("schema" -> Map("columns" -> Seq(
          Map("name" -> "vectors", "vectorIndex" -> Map(
            "dims" -> synchronized {
              Option(store.get(t)).map(_._1).getOrElse(0)
            },
            "metric" -> distances.getOrDefault(t, "CS"),
            "type" -> "flat")),
          Map("name" -> "id", "pytype" -> "str"))))))

      case ("POST", "api" :: "v1" :: "data" :: Nil) =>
        val t = json("table").toString
        val aggs = json.get("aggs").filter(_ != null)
        val filter = json.get("filter").filter(_ != null)
          .map(_.asInstanceOf[Seq[Any]])
        if (aggs.nonEmpty) {
          requestLog.add(s"POST /api/v1/data table=$t aggs=count")
          respond(ex, 200, write(Map("result" ->
            Seq(Map("cnt" -> collectionSize(t))))))
        } else {
          val pts = filter match {
            case Some(f) =>
              // [["in","id",[ids…]]]
              val triple = f.head.asInstanceOf[Seq[Any]]
              val ids = triple(2).asInstanceOf[Seq[Any]].map(_.toString)
              requestLog.add(s"POST /api/v1/data table=$t filter=in n=${ids.size}")
              if (injectRead(ex)) return
              byIds(t, ids)
            case None =>
              val limit = json.get("limit")
                .map(_.asInstanceOf[Number].intValue()).getOrElse(10)
              val offset = json.get("offset")
                .map(_.asInstanceOf[Number].intValue()).getOrElse(0)
              requestLog.add(s"POST /api/v1/data table=$t limit=$limit offset=$offset")
              if (injectRead(ex)) return
              page(t, offset, limit)
          }
          respond(ex, 200, write(Map("result" -> pts.map {
            case (id, v, p) => Map("id" -> id, "vectors" -> v) ++ p
          })))
        }

      case ("POST", "api" :: "v1" :: "insert" :: Nil) =>
        val t = json("table").toString
        val rows = json("rows").asInstanceOf[Seq[Any]]
          .map(_.asInstanceOf[Map[String, Any]])
        requestLog.add(s"POST /api/v1/insert table=$t n=${rows.size}")
        if (injectWrite(ex)) return
        if (rows.size > maxUpsertBatch) {
          respond(ex, 413, s"""{"error":"payload too large"}"""); return
        }
        ensure(t, rows.headOption
          .map(r => vec(r.getOrElse("vectors", Seq.empty)).size).getOrElse(0))
        upsert(t, rows.map { r =>
          (r("id").toString, vec(r.getOrElse("vectors", Seq.empty)),
            pay(r - "id" - "vectors"))
        })
        respond(ex, 200, "{}")

      // -------------------------------------------- Vertex AI VS
      // GET /v1/indexes/{i} stats; POST
      // /v1/indexEndpoints/{e}:findNeighbors (id listing via the
      // zero-vector proxy) and :readIndexDatapoints; POST
      // /v1/indexes/{i}:upsertDatapoints
      // (`vertexai_vector_search_export.py:209-258`).
      case ("GET", "v1" :: "indexes" :: i :: Nil) =>
        requestLog.add(s"GET /v1/indexes/$i")
        respond(ex, 200, write(Map(
          "indexStats" -> Map("vectorsCount" -> collectionSize(i).toString),
          "metadata" -> Map("config" -> Map(
            "dimensions" -> synchronized {
              Option(store.get(i)).map(_._1).getOrElse(0)
            },
            "distanceMeasureType" ->
              distances.getOrDefault(i, "DOT_PRODUCT_DISTANCE"))))))

      case ("POST", "v1" :: "indexEndpoints" :: last :: Nil)
          if last.contains(":") =>
        val Array(endpointId, verb) = last.split(":", 2)
        verb match {
          case "findNeighbors" =>
            val q = json("queries").asInstanceOf[Seq[Any]].head
              .asInstanceOf[Map[String, Any]]
            val n = q("neighborCount").asInstanceOf[Number].intValue()
            val c = json("deployedIndexId").toString
            requestLog.add(
              s"POST /v1/indexEndpoints/$endpointId:findNeighbors " +
                s"deployed=$c n=$n")
            if (injectRead(ex)) return
            respond(ex, 200, write(Map("nearestNeighbors" -> Seq(Map(
              "neighbors" -> page(c, 0, n).map { case (id, _, _) =>
                Map("datapoint" -> Map("datapointId" -> id))
              })))))
          case "readIndexDatapoints" =>
            val c = json("deployedIndexId").toString
            val ids = json("ids").asInstanceOf[Seq[Any]].map(_.toString)
            requestLog.add(
              s"POST /v1/indexEndpoints/$endpointId:readIndexDatapoints " +
                s"deployed=$c n=${ids.size}")
            if (injectRead(ex)) return
            respond(ex, 200, write(Map("datapoints" ->
              byIds(c, ids).map { case (id, v, p) =>
                Map("datapointId" -> id, "featureVector" -> v,
                  "restricts" -> p.toSeq.map { case (k, vv) =>
                    Map("namespace" -> k, "allowList" -> Seq(vv))
                  })
              })))
          case other =>
            respond(ex, 404, s"""{"error":"no endpoint verb $other"}""")
        }

      case ("POST", "v1" :: "indexes" :: last :: Nil)
          if last.endsWith(":upsertDatapoints") =>
        val i = last.stripSuffix(":upsertDatapoints")
        val dps = json("datapoints").asInstanceOf[Seq[Any]]
          .map(_.asInstanceOf[Map[String, Any]])
        requestLog.add(s"POST /v1/indexes/$i:upsertDatapoints n=${dps.size}")
        if (injectWrite(ex)) return
        if (dps.size > maxUpsertBatch) {
          respond(ex, 413, s"""{"error":"payload too large"}"""); return
        }
        ensure(i, dps.headOption
          .map(d => vec(d.getOrElse("featureVector", Seq.empty)).size)
          .getOrElse(0))
        upsert(i, dps.map { d =>
          val payload = d.get("restricts").map(_.asInstanceOf[Seq[Any]])
            .getOrElse(Seq.empty).flatMap { r0 =>
              val r = r0.asInstanceOf[Map[String, Any]]
              r("allowList").asInstanceOf[Seq[Any]].headOption.map(v =>
                r("namespace").toString -> v.toString)
            }.toMap
          (d("datapointId").toString,
            vec(d.getOrElse("featureVector", Seq.empty)), payload)
        })
        respond(ex, 200, "{}")

      case _ =>
        requestLog.add(s"$method $path (404)")
        respond(ex, 404, s"""{"error":"no route $method $path"}""")
    }
  } catch {
    case e: Exception =>
      respond(ex, 500, write(Map("error" -> String.valueOf(e.getMessage))))
  }
}

/** Jackson helpers shared by the stub server and the wire clients —
  * the same mapper stack `core/VdfMeta` uses, on a factory that parses
  * doubles with Jackson's bundled port of Lemire's correctly rounded
  * fast float parser (a 1000×128 scroll page is ~128k doubles). */
object WireJson {
  private val mapper = {
    import com.fasterxml.jackson.core.{JsonFactoryBuilder, StreamReadFeature}
    val m = new com.fasterxml.jackson.databind.ObjectMapper(
      new JsonFactoryBuilder()
        .enable(StreamReadFeature.USE_FAST_DOUBLE_PARSER).build())
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  def parse(s: String): Map[String, Any] =
    mapper.readValue(s, classOf[Map[String, Any]])
  def write(v: Any): String = mapper.writeValueAsString(v)
}
