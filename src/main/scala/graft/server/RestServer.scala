package graft.server

import java.io.OutputStreamWriter
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import com.fasterxml.jackson.core.JsonGenerator
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.Identifier

import graft.catalog.GraftCatalog
import graft.meta._

/** Wire-level facade re-exposing [[GraftCatalog]] as the reference's REST
  * surface — the 15 routes of `/root/reference/api/router/router.go:12-52`
  * on the JDK's built-in HTTP server (zero extra dependencies; the gin
  * engine's role, `main.go:111-121`).
  *
  * Spec quirks preserved deliberately (SURVEY.md §7.4):
  *   - namespace levels joined with 0x1F in URLs (`models.go:10`)
  *   - pagination params accepted but never honored (`namespaces.go:43-46`)
  *   - `stage-create: true` → 501 (`tables.go:91-96`)
  *   - `purgeRequested=true` → HTTP 400 carrying a code-501 body
  *     (`tables.go:288-295` status/body mismatch)
  *   - rename responds bare 200 with no body (`tables.go:376,401`)
  *   - commit body's identifier ignored; URL params win (`tables.go:153-171`)
  *   - error envelope `{error:{message,type,code}}` (`errors.go:5-13`)
  *
  * Paths, request bodies and error shapes are decoded by [[RestWire]],
  * which the federation client encodes them with.
  */
final class RestServer(catalog: GraftCatalog, port: Int = 0,
                       host: String = "127.0.0.1") {
  private val server = RestServer.create(host, port)
  server.createContext("/", handle _)
  // concurrent request handling (gin serves per-goroutine; handlers are
  // stateless and the store's CAS protocol arbitrates writers); threads
  // are named after the port so a thread dump tells servers apart
  private val pool = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val port = server.getAddress.getPort
    java.util.concurrent.Executors.newCachedThreadPool(
      r => new Thread(r, s"graft-rest-$port-${n.incrementAndGet()}"))
  }
  server.setExecutor(pool)

  def start(): Int = { server.start(); server.getAddress.getPort }

  /** `HttpServer.stop` leaves its executor running, so the handler
    * threads are shut down here. */
  def stop(): Unit = { server.stop(0); pool.shutdown() }

  // ---- middleware (requestID + access log + CORS + recovery) ------------
  // the reference's gin middleware stack: RequestLogger assigns a
  // requestID and logs path/method/clientIP/status/latency/size
  // (`middleware.go:11-36`); CORS + panic recovery are mounted in
  // `main.go:113-114` (recovery here is the catch-all → 500 envelope).

  private val logger = org.slf4j.LoggerFactory.getLogger(classOf[RestServer])
  // a caller's X-Request-ID is kept when it is safe to log verbatim
  private val RequestIdPattern = "[A-Za-z0-9._:-]{1,128}".r
  private val recent = new java.util.concurrent.ArrayBlockingQueue[String](100)

  /** Last ≤100 access-log lines (for tests / debugging). */
  def recentLogs: Seq[String] =
    scala.jdk.CollectionConverters.IteratorHasAsScala(recent.iterator()).asScala.toSeq

  private def cors(ex: HttpExchange): Unit = {
    val h = ex.getResponseHeaders
    h.set("Access-Control-Allow-Origin", "*")
    h.set("Access-Control-Allow-Methods", "GET, POST, PUT, DELETE, HEAD, OPTIONS")
    h.set("Access-Control-Allow-Headers", "Content-Type, Authorization, X-Request-ID")
  }

  // ---- routing ----------------------------------------------------------

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val requestId = Option(ex.getRequestHeaders.getFirst("X-Request-ID"))
      .filter(RequestIdPattern.matches).getOrElse(java.util.UUID.randomUUID().toString)
    ex.getResponseHeaders.set("X-Request-ID", requestId)
    cors(ex)
    val method = ex.getRequestMethod
    val path = ex.getRequestURI.getPath
    try {
      // split before decoding, so an encoded '/' stays inside its name
      val segs = ex.getRequestURI.getRawPath.split("/").filter(_.nonEmpty)
        .map(RestWire.decodeSegment).toList
      (method, segs) match {
        case ("OPTIONS", _) => empty(ex, 204) // CORS preflight
        case ("GET", List("health")) => json(ex, 200, JObject("status" -> JString("ok")))
        case ("GET", List("v1", "config")) => getConfig(ex)
        case ("GET", List("v1", "namespaces")) => listNamespaces(ex)
        case ("POST", List("v1", "namespaces")) => createNamespace(ex)
        case ("GET", List("v1", "namespaces", ns)) => loadNamespace(ex, ns)
        case ("HEAD", List("v1", "namespaces", ns)) => headNamespace(ex, ns)
        case ("DELETE", List("v1", "namespaces", ns)) => dropNamespace(ex, ns)
        case ("POST", List("v1", "namespaces", ns, "properties")) =>
          updateNamespaceProps(ex, ns)
        case ("GET", List("v1", "namespaces", ns, "tables")) => listTables(ex, ns)
        case ("POST", List("v1", "namespaces", ns, "tables")) => createTable(ex, ns)
        case ("GET", List("v1", "namespaces", ns, "tables", t)) => loadTable(ex, ns, t)
        case ("HEAD", List("v1", "namespaces", ns, "tables", t)) => headTable(ex, ns, t)
        case ("DELETE", List("v1", "namespaces", ns, "tables", t)) => dropTable(ex, ns, t)
        case ("POST", List("v1", "namespaces", ns, "tables", t)) => updateTable(ex, ns, t)
        case ("POST", List("v1", "tables", "rename")) => renameTable(ex)
        case _ => error(ex, 404, "NoSuchEndpointException", s"no route: $method $path")
      }
    } catch {
      case e: Exception =>
        val (code, tpe) = RestWire.status(e)
        error(ex, code, tpe, String.valueOf(e.getMessage))
    } finally {
      // hundredths of a millisecond, rounded half up
      val centiMs = (System.nanoTime() - t0 + 5000) / 10000
      // the length sent, from this exchange's own headers: exchange
      // attributes live on the shared HttpContext, so concurrent requests
      // would read each other's values there
      val size = Option(ex.getResponseHeaders.getFirst("Content-Length")).fold(0L)(_.toLong)
      val line = new java.lang.StringBuilder(160)
        .append("requestId=").append(requestId).append(" method=").append(method)
        .append(" path=").append(path)
        .append(" client=").append(ex.getRemoteAddress.getAddress.getHostAddress)
        .append(" status=").append(ex.getResponseCode)
        .append(" latency=").append(centiMs / 100).append('.')
        .append(if (centiMs % 100 < 10) "0" else "").append(centiMs % 100)
        .append("ms size=").append(size).toString
      logger.info(line)
      while (!recent.offer(line)) recent.poll()
      ex.close()
    }
  }

  /** A namespace path segment; `handle` has already decoded it. */
  private def ns(seg: String): Seq[String] = RestWire.levels(seg)

  private def query(ex: HttpExchange): Map[String, String] = {
    def dec(s: String) = java.net.URLDecoder.decode(s, UTF_8)
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); dec(k) -> dec(v) }.toMap
  }

  private def body(ex: HttpExchange): JValue =
    JsonMethods.parse(new String(ex.getRequestBody.readAllBytes(), UTF_8))

  private def json(ex: HttpExchange, code: Int, v: JValue): Unit =
    respond(ex, code)(JsonMethods.mapper.writeValue(_, v))

  /** Send the JSON body `write` renders; a HEAD response gets the
    * status alone. The whole body is rendered before the headers go
    * out, so a render failure still reaches the 500 envelope, and the
    * response carries its exact Content-Length. */
  private def respond(ex: HttpExchange, code: Int)(write: JsonGenerator => Unit): Unit =
    if (ex.getRequestMethod == "HEAD") empty(ex, code) else send(ex, code, render(write))

  private def render(write: JsonGenerator => Unit): BlockBuffer = {
    val buf = new BlockBuffer
    val g = MetaJson.factory.createGenerator(new OutputStreamWriter(buf, UTF_8))
    try write(g) finally g.close()
    buf
  }

  private def send(ex: HttpExchange, code: Int, buf: BlockBuffer): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, buf.size)
    buf.writeTo(ex.getResponseBody)
  }

  // each table's loadTable body `{metadata-location, metadata, config}`
  // for its newest version rendered so far, in access order and at most
  // 32 MB in all; `metadataEnd` is where the config member starts. A
  // body is sent again while the store hands back the very instance it
  // was rendered from (the store does so only while the version
  // document's bytes are unchanged) with the same config. A load of an
  // older version of the same table (one that raced a commit, or
  // `?version=N`) is rendered but does not displace the newer body.
  private final class LoadBody(val version: Int, val m: TableMetadata,
                               val config: Map[String, String], val buf: BlockBuffer,
                               val metadataEnd: Long)
  private val loadBodies =
    new graft.Lru[(Seq[String], String), LoadBody](bound = 32L << 20, _.buf.size)

  /** The loadTable body of version `v` of the table, rendered in one
    * pass unless the kept one is for this very instance. */
  private def loadBody(n: Seq[String], t: String, v: Int, m: TableMetadata,
                       config: Map[String, String]): LoadBody =
    loadBodies.get((n, t))
      .filter(b => (b.m eq m) && b.version == v && b.config == config)
      .getOrElse {
        val buf = new BlockBuffer
        val g = MetaJson.factory.createGenerator(new OutputStreamWriter(buf, UTF_8))
        val metadataEnd = try {
          g.writeStartObject()
          g.writeStringField("metadata-location", catalog.metadataStore.metadataLocation(n, t, v))
          g.writeFieldName("metadata")
          MetaJson.writeTable(g, m)
          g.flush()
          val end = buf.size
          g.writeFieldName("config")
          MetaJson.strings(g, config)
          g.writeEndObject()
          end
        } finally g.close()
        buf.trim()
        val body = new LoadBody(v, m, config, buf, metadataEnd)
        loadBodies.put((n, t), body,
          replaces = kept => kept.m.tableUuid != m.tableUuid || kept.version <= v)
        body
      }

  private def empty(ex: HttpExchange, code: Int): Unit =
    ex.sendResponseHeaders(code, -1)

  private def error(ex: HttpExchange, code: Int, tpe: String, msg: String): Unit =
    json(ex, code, RestWire.error(code, tpe, msg))

  // ---- handlers ---------------------------------------------------------

  /** GET /v1/config — `warehouse` query param ignored like `tables.go:41-43`. */
  private def getConfig(ex: HttpExchange): Unit =
    json(ex, 200, JObject(
      "defaults" -> toJObj(catalog.configDefaults),
      "overrides" -> toJObj(catalog.configOverrides)))

  private def listNamespaces(ex: HttpExchange): Unit = {
    val parent = query(ex).get("parent").map(RestWire.levels).getOrElse(Nil)
    // pageToken/pageSize accepted but ignored; NextPageToken never set
    val result = catalog.metadataStore.listNamespaces(parent)
    json(ex, 200, JObject("namespaces" ->
      JArray(result.map(n => JArray(n.map(JString(_)).toList)).toList)))
  }

  private def createNamespace(ex: HttpExchange): Unit = {
    val c = RestWire.Namespace.from(body(ex))
    catalog.createNamespace(c.namespace.toArray,
      scala.jdk.CollectionConverters.MapHasAsJava(c.properties).asJava)
    json(ex, 200, c.json)
  }

  private def loadNamespace(ex: HttpExchange, seg: String): Unit =
    json(ex, 200, RestWire.Namespace(ns(seg),
      catalog.metadataStore.loadNamespace(ns(seg))).json)

  private def headNamespace(ex: HttpExchange, seg: String): Unit =
    if (catalog.metadataStore.namespaceExists(ns(seg))) empty(ex, 204)
    else throw new NoSuchNamespaceException(ns(seg).toArray)

  private def dropNamespace(ex: HttpExchange, seg: String): Unit = {
    catalog.dropNamespace(ns(seg).toArray, cascade = false)
    empty(ex, 204)
  }

  private def updateNamespaceProps(ex: HttpExchange, seg: String): Unit = {
    val u = RestWire.UpdateNamespace.from(body(ex))
    val (updated, removed, missing) =
      catalog.updateNamespaceProperties(ns(seg), u.removals, u.updates)
    json(ex, 200, JObject(
      "updated" -> JArray(updated.map(JString(_)).toList),
      "removed" -> JArray(removed.map(JString(_)).toList),
      "missing" -> JArray(missing.map(JString(_)).toList)))
  }

  private def listTables(ex: HttpExchange, seg: String): Unit = {
    val idents = catalog.listTables(ns(seg).toArray)
    json(ex, 200, JObject("identifiers" -> JArray(idents.map { id =>
      JObject("namespace" -> JArray(id.namespace.map(JString(_)).toList),
        "name" -> JString(id.name))
    }.toList)))
  }

  private def createTable(ex: HttpExchange, seg: String): Unit = {
    val n = ns(seg)
    val b = body(ex)
    if (RestWire.CreateTable.staged(b)) {
      error(ex, 501, "NotImplementedException", "stage-create is not supported")
      return
    }
    val c = RestWire.CreateTable.from(b)
    val meta = TableMetadata.empty(
      uuid = java.util.UUID.randomUUID().toString,
      location = catalog.metadataStore.dataDir(n, c.name),
      schema = c.schema.copy(schemaId = 0),
      spec = PartitionSpecDef(0, c.spec),
      order = SortOrderDef(0, Nil),
      props = catalog.configDefaults ++ c.properties)
    // the store checks the namespace (404) and decides the race between
    // creates of one name: the losers' "exists" is a 409
    try catalog.metadataStore.createTable(n, c.name, meta)
    catch { case _: IllegalStateException =>
      throw new TableAlreadyExistsException(Identifier.of(n.toArray, c.name))
    }
    respondLoadTable(ex, n, c.name)
  }

  private def respondLoadTable(ex: HttpExchange, n: Seq[String], t: String,
                               version: Option[Int] = None): Unit = {
    // optional ?version=N time travel (additive — reference clients
    // never send it); out-of-range versions → 404 like a missing table
    val (m, v) = version match {
      case Some(want) => (catalog.metadataStore.loadVersion(n, t, want), want)
      case None => catalog.metadataStore.load(n, t)
    }
    send(ex, 200, loadBody(n, t, v, m, catalog.config(m.properties)).buf)
  }

  private def loadTable(ex: HttpExchange, seg: String, t: String): Unit =
    respondLoadTable(ex, ns(seg), t,
      query(ex).get("version").map(v => v.toIntOption.getOrElse(
        throw new MappingException(s"version must be an int, got '$v'"))))

  private def headTable(ex: HttpExchange, seg: String, t: String): Unit =
    if (catalog.metadataStore.tableExists(ns(seg), t)) empty(ex, 204)
    else throw new NoSuchTableException(Identifier.of(ns(seg).toArray, t))

  /** DELETE with purgeRequested=true → HTTP 400 carrying a 501-code body,
    * preserving the reference's status/body mismatch (`tables.go:288-295`).
    * Of racing drops, the one the store lets win answers 204. */
  private def dropTable(ex: HttpExchange, seg: String, t: String): Unit = {
    if (query(ex).get("purgeRequested").contains("true")) {
      error(ex, 400, "NotImplementedException", "purge is not supported")
      return
    }
    if (!catalog.metadataStore.dropTable(ns(seg), t))
      throw new NoSuchTableException(Identifier.of(ns(seg).toArray, t))
    empty(ex, 204)
  }

  /** POST commit — body identifier ignored, URL params win (`tables.go:171`). */
  private def updateTable(ex: HttpExchange, seg: String, t: String): Unit = {
    val c = RestWire.Commit.from(body(ex))
    val n = ns(seg)
    catalog.commit(Identifier.of(n.toArray, t), c.requirements, c.updates)
    val (m, v) = catalog.metadataStore.load(n, t)
    // `{metadata-location, metadata}`: the next load's body up to its
    // config member, so the new version is rendered once for both
    val kept = loadBody(n, t, v, m, catalog.config(m.properties))
    val buf = kept.buf.take(kept.metadataEnd)
    buf.write('}')
    send(ex, 200, buf)
  }

  /** POST /v1/tables/rename — discards the result, bare 200 no body. */
  private def renameTable(ex: HttpExchange): Unit = {
    val r = RestWire.Rename.from(body(ex))
    catalog.renameTable(r.from, r.to)
    empty(ex, 200)
  }

  private def toJObj(m: Map[String, String]): JObject =
    JObject(m.toList.map { case (k, v) => k -> (JString(v): JValue) })
}

object RestServer {
  // TCP_NODELAY on every connection, as gin has by Go's default. The JDK
  // server leaves Nagle's algorithm on unless this property is set, and
  // reads it once, when its first server is created; without it a small
  // body, sent after the headers, waits ~40 ms for the client's delayed
  // ACK. A value the JVM was started with is kept.
  private val NoDelay = "sun.net.httpserver.nodelay"
  if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")

  private def create(host: String, port: Int): HttpServer =
    HttpServer.create(new InetSocketAddress(host, port), 0)
}
