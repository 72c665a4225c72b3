package graft.server

import java.io.OutputStreamWriter
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import com.fasterxml.jackson.core.JsonGenerator
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.Identifier

import graft.catalog.GraftCatalog
import graft.commit._
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
  */
final class RestServer(catalog: GraftCatalog, port: Int = 0,
                       host: String = "127.0.0.1") {
  private implicit val formats: Formats = DefaultFormats
  private val Unit31 = "\u001f"

  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)
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
    val requestId = java.util.UUID.randomUUID().toString
    ex.getResponseHeaders.set("X-Request-ID", requestId)
    cors(ex)
    val method = ex.getRequestMethod
    val path = ex.getRequestURI.getPath
    val segs = path.split("/").filter(_.nonEmpty).toList
    try {
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
      case e: NoSuchNamespaceException =>
        error(ex, 404, "NoSuchNamespaceException", e.getMessage)
      case e: NoSuchTableException =>
        error(ex, 404, "NoSuchTableException", e.getMessage)
      case e: org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException =>
        error(ex, 409, "AlreadyExistsException", e.getMessage)
      case e: org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException =>
        error(ex, 409, "AlreadyExistsException", e.getMessage)
      case e: org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException =>
        error(ex, 409, "NamespaceNotEmptyException", e.getMessage)
      case e: CommitFailedException =>
        error(ex, 409, "CommitFailedException", e.getMessage)
      case e: IllegalArgumentException =>
        error(ex, 422, "UnprocessableEntityException", e.getMessage)
      // malformed/unmappable request body → 400, like the reference's
      // ShouldBindJSON failure path (`tables.go:163-169`)
      case e: org.json4s.MappingException =>
        error(ex, 400, "BadRequestException", String.valueOf(e.getMessage))
      case e: com.fasterxml.jackson.core.JacksonException =>
        error(ex, 400, "BadRequestException", String.valueOf(e.getMessage))
      case e: Exception =>
        error(ex, 500, "InternalServerError", String.valueOf(e.getMessage))
    } finally {
      val latencyMs = (System.nanoTime() - t0) / 1e6
      // the length sent, from this exchange's own headers: exchange
      // attributes live on the shared HttpContext, so concurrent requests
      // would read each other's values there
      val size = Option(ex.getResponseHeaders.getFirst("Content-Length")).fold(0L)(_.toLong)
      val line = f"requestId=$requestId method=$method path=$path " +
        f"client=${ex.getRemoteAddress.getAddress.getHostAddress} " +
        f"status=${ex.getResponseCode} latency=$latencyMs%.2fms size=$size"
      logger.info(line)
      while (!recent.offer(line)) recent.poll()
      ex.close()
    }
  }

  private def ns(encoded: String): Array[String] =
    java.net.URLDecoder.decode(encoded, "UTF-8").split(Unit31, -1)

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).getOrElse("").split("&").filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8") }.toMap

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
  // LoadBodyBytes in all; `metadataEnd` is where the config member
  // starts. A body is sent again while the store hands back the very
  // instance it was rendered from (the store does so only while the
  // version document's bytes are unchanged) with the same config. A load
  // of an older version of the same table (one that raced a commit, or
  // `?version=N`) is rendered but does not displace the newer body.
  private final class LoadBody(val version: Int, val m: TableMetadata,
                               val config: Map[String, String], val buf: BlockBuffer,
                               val metadataEnd: Long)
  private val LoadBodyBytes = 32L << 20
  private val loadBodies = new java.util.LinkedHashMap[(Seq[String], String), LoadBody](
    16, 0.75f, true)
  private var loadBodiesSize = 0L // guarded by loadBodies

  /** The loadTable body of version `v` of the table, rendered in one
    * pass unless the kept one is for this very instance. */
  private def loadBody(n: Seq[String], t: String, v: Int, m: TableMetadata,
                       config: Map[String, String]): LoadBody =
    loadBodies.synchronized(Option(loadBodies.get((n, t))))
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
        loadBodies.synchronized {
          val kept = loadBodies.get((n, t))
          if (kept == null || kept.m.tableUuid != m.tableUuid || kept.version <= v) {
            if (kept != null) loadBodiesSize -= kept.buf.size
            loadBodies.put((n, t), body)
            loadBodiesSize += buf.size
            val eldest = loadBodies.values.iterator
            while (loadBodiesSize > LoadBodyBytes && eldest.hasNext) {
              loadBodiesSize -= eldest.next().buf.size
              eldest.remove()
            }
          }
        }
        body
      }

  private def empty(ex: HttpExchange, code: Int): Unit =
    ex.sendResponseHeaders(code, -1)

  private def error(ex: HttpExchange, code: Int, tpe: String, msg: String): Unit =
    json(ex, code, JObject("error" -> JObject(
      "message" -> JString(msg), "type" -> JString(tpe), "code" -> JInt(code))))

  // ---- handlers ---------------------------------------------------------

  /** GET /v1/config — `warehouse` query param ignored like `tables.go:41-43`. */
  private def getConfig(ex: HttpExchange): Unit =
    json(ex, 200, JObject(
      "defaults" -> toJObj(catalog.configDefaults),
      "overrides" -> toJObj(catalog.configOverrides)))

  private def listNamespaces(ex: HttpExchange): Unit = {
    val parent = query(ex).get("parent").map(p => p.split(Unit31, -1).toSeq).getOrElse(Nil)
    // pageToken/pageSize accepted but ignored; NextPageToken never set
    val result = catalog.metadataStore.listNamespaces(parent)
    json(ex, 200, JObject("namespaces" ->
      JArray(result.map(n => JArray(n.map(JString(_)).toList)).toList)))
  }

  private def createNamespace(ex: HttpExchange): Unit = {
    val b = body(ex)
    val namespace = (b \ "namespace").extract[List[String]]
    val props = (b \ "properties").extractOpt[Map[String, String]].getOrElse(Map.empty)
    catalog.createNamespace(namespace.toArray,
      scala.jdk.CollectionConverters.MapHasAsJava(props).asJava)
    json(ex, 200, JObject("namespace" -> JArray(namespace.map(JString(_))),
      "properties" -> toJObj(props)))
  }

  private def loadNamespace(ex: HttpExchange, enc: String): Unit = {
    val n = ns(enc)
    val props = catalog.metadataStore.loadNamespace(n.toSeq)
    json(ex, 200, JObject("namespace" -> JArray(n.map(JString(_)).toList),
      "properties" -> toJObj(props)))
  }

  private def headNamespace(ex: HttpExchange, enc: String): Unit =
    if (catalog.namespaceExists(ns(enc))) empty(ex, 204)
    else error(ex, 404, "NoSuchNamespaceException", s"namespace ${ns(enc).mkString(".")}")

  private def dropNamespace(ex: HttpExchange, enc: String): Unit = {
    catalog.dropNamespace(ns(enc), cascade = false)
    empty(ex, 204)
  }

  private def updateNamespaceProps(ex: HttpExchange, enc: String): Unit = {
    val b = body(ex)
    val removals = (b \ "removals").extractOpt[List[String]].getOrElse(Nil)
    val updates = (b \ "updates").extractOpt[Map[String, String]].getOrElse(Map.empty)
    val (updated, removed, missing) =
      catalog.updateNamespaceProperties(ns(enc).toSeq, removals, updates)
    json(ex, 200, JObject(
      "updated" -> JArray(updated.map(JString(_)).toList),
      "removed" -> JArray(removed.map(JString(_)).toList),
      "missing" -> JArray(missing.map(JString(_)).toList)))
  }

  private def listTables(ex: HttpExchange, enc: String): Unit = {
    val idents = catalog.listTables(ns(enc))
    json(ex, 200, JObject("identifiers" -> JArray(idents.map { id =>
      JObject("namespace" -> JArray(id.namespace.map(JString(_)).toList),
        "name" -> JString(id.name))
    }.toList)))
  }

  private def schemaFromJson(j: JValue): SchemaDef =
    SchemaDef((j \ "schemaId").extractOpt[Int].getOrElse(0),
      (j \ "fields").extract[List[FieldDef]])

  private def createTable(ex: HttpExchange, enc: String): Unit = {
    val n = ns(enc)
    val b = body(ex)
    if ((b \ "stage-create").extractOpt[Boolean].contains(true)) {
      error(ex, 501, "NotImplementedException", "stage-create is not supported")
      return
    }
    val name = (b \ "name").extract[String]
    val schema = schemaFromJson(b \ "schema")
    val props = (b \ "properties").extractOpt[Map[String, String]].getOrElse(Map.empty)
    val specFields = (b \ "partition-spec").extractOpt[List[PartitionFieldDef]].getOrElse(Nil)
    if (!catalog.metadataStore.namespaceExists(n.toSeq))
      throw new NoSuchNamespaceException(n)
    if (catalog.metadataStore.tableExists(n.toSeq, name))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Identifier.of(n, name))
    val meta = TableMetadata.empty(
      uuid = java.util.UUID.randomUUID().toString,
      location = catalog.metadataStore.dataDir(n.toSeq, name),
      schema = schema.copy(schemaId = 0),
      spec = PartitionSpecDef(0, specFields),
      order = SortOrderDef(0, Nil),
      props = catalog.configDefaults ++ props)
    // a create that lost a race to another one is a 409 like the check above
    try catalog.metadataStore.createTable(n.toSeq, name, meta)
    catch { case _: IllegalStateException =>
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Identifier.of(n, name))
    }
    respondLoadTable(ex, n.toSeq, name)
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

  private def loadTable(ex: HttpExchange, enc: String, t: String): Unit =
    respondLoadTable(ex, ns(enc).toSeq, t,
      query(ex).get("version").map(_.toInt))

  private def headTable(ex: HttpExchange, enc: String, t: String): Unit =
    if (catalog.metadataStore.tableExists(ns(enc).toSeq, t)) empty(ex, 204)
    else error(ex, 404, "NoSuchTableException", s"table $t")

  /** DELETE with purgeRequested=true → HTTP 400 carrying a 501-code body,
    * preserving the reference's status/body mismatch (`tables.go:288-295`). */
  private def dropTable(ex: HttpExchange, enc: String, t: String): Unit = {
    if (query(ex).get("purgeRequested").contains("true")) {
      error(ex, 400, "NotImplementedException", "purge is not supported")
      return
    }
    if (!catalog.metadataStore.tableExists(ns(enc).toSeq, t))
      throw new NoSuchTableException(Identifier.of(ns(enc), t))
    catalog.metadataStore.dropTable(ns(enc).toSeq, t)
    empty(ex, 204)
  }

  /** POST commit — body identifier ignored, URL params win (`tables.go:171`). */
  private def updateTable(ex: HttpExchange, enc: String, t: String): Unit = {
    val b = body(ex)
    val reqs = (b \ "requirements").extractOpt[List[JValue]].getOrElse(Nil).map(parseReq)
    val ups = (b \ "updates").extractOpt[List[JValue]].getOrElse(Nil).map(parseUpdate)
    catalog.commit(Identifier.of(ns(enc), t), reqs, ups)
    val n = ns(enc).toSeq
    val (m, v) = catalog.metadataStore.load(n, t)
    // `{metadata-location, metadata}`: the next load's body up to its
    // config member, so the new version is rendered once for both
    val kept = loadBody(n, t, v, m, catalog.config(m.properties))
    val buf = kept.buf.take(kept.metadataEnd)
    buf.write('}')
    send(ex, 200, buf)
  }

  private def parseReq(j: JValue): Requirement = (j \ "type").extract[String] match {
    case "assert-current-schema-id" =>
      Requirement.AssertCurrentSchemaId((j \ "current-schema-id").extract[Int])
    case "assert-table-uuid" =>
      Requirement.AssertTableUuid((j \ "uuid").extract[String])
    case "assert-default-spec-id" =>
      Requirement.AssertDefaultSpecId((j \ "default-spec-id").extract[Int])
    case "assert-current-snapshot-id" =>
      Requirement.AssertCurrentSnapshotId((j \ "snapshot-id").extractOpt[Long])
    case "assert-max-summary-below" =>
      Requirement.AssertMaxSummaryBelow(
        (j \ "key").extract[String], (j \ "value").extract[Long])
    case other => throw new IllegalArgumentException(s"unknown requirement $other")
  }

  private def parseUpdate(j: JValue): MetadataUpdate = (j \ "action").extract[String] match {
    case "add-schema" => MetadataUpdate.AddSchema(schemaFromJson(j \ "schema"))
    case "set-current-schema" =>
      MetadataUpdate.SetCurrentSchema((j \ "schema-id").extract[Int])
    case "set-properties" =>
      MetadataUpdate.SetProperties((j \ "updates").extract[Map[String, String]])
    case "remove-properties" =>
      MetadataUpdate.RemoveProperties((j \ "removals").extract[List[String]])
    case "set-location" =>
      MetadataUpdate.SetLocation((j \ "location").extract[String])
    // data-plane commits over the wire (the reference forwards the full
    // iceberg-go update set to CommitTable; these are the snapshot-level
    // members our commit algebra supports)
    case "add-snapshot" =>
      MetadataUpdate.AddSnapshot((j \ "snapshot").extract[SnapshotDef])
    case "set-current-snapshot" =>
      MetadataUpdate.SetCurrentSnapshot((j \ "snapshot-id").extract[Long])
    case "add-partition-spec" =>
      MetadataUpdate.AddPartitionSpec((j \ "spec").extract[PartitionSpecDef])
    // optional per-file stats so manifest min/max skipping survives a
    // delegated commit (absent on reference-shaped bodies — additive)
    case "append-files" =>
      MetadataUpdate.AppendFiles(
        (j \ "files").extract[List[String]],
        (j \ "timestamp-ms").extractOpt[Long].getOrElse(System.currentTimeMillis()),
        (j \ "file-stats").extractOpt[Map[String, List[ColStatDef]]].getOrElse(Map.empty),
        (j \ "summary").extractOpt[Map[String, String]].getOrElse(Map.empty))
    case "replace-files" =>
      MetadataUpdate.ReplaceFiles(
        (j \ "files").extract[List[String]],
        (j \ "timestamp-ms").extractOpt[Long].getOrElse(System.currentTimeMillis()),
        (j \ "file-stats").extractOpt[Map[String, List[ColStatDef]]].getOrElse(Map.empty),
        (j \ "summary").extractOpt[Map[String, String]].getOrElse(Map.empty))
    case "overwrite-partitions" =>
      MetadataUpdate.OverwritePartitions(
        (j \ "files").extract[List[String]],
        (j \ "partition-values").extract[List[Map[String, String]]],
        (j \ "timestamp-ms").extractOpt[Long].getOrElse(System.currentTimeMillis()),
        (j \ "file-stats").extractOpt[Map[String, List[ColStatDef]]].getOrElse(Map.empty),
        (j \ "summary").extractOpt[Map[String, String]].getOrElse(Map.empty))
    case "rewrite-files" =>
      MetadataUpdate.RewriteFiles(
        (j \ "removed-files").extract[List[String]],
        (j \ "added-files").extract[List[String]],
        (j \ "timestamp-ms").extractOpt[Long].getOrElse(System.currentTimeMillis()),
        (j \ "file-stats").extractOpt[Map[String, List[ColStatDef]]].getOrElse(Map.empty),
        (j \ "summary").extractOpt[Map[String, String]].getOrElse(Map.empty))
    case "set-ref" =>
      MetadataUpdate.SetRef((j \ "ref-name").extract[String],
        (j \ "snapshot-id").extract[Long], (j \ "ref-type").extract[String])
    case "remove-ref" =>
      MetadataUpdate.RemoveRef((j \ "ref-name").extract[String])
    case "remove-snapshots" =>
      MetadataUpdate.RemoveSnapshots((j \ "snapshot-ids").extract[List[Long]])
    case "fast-forward" =>
      MetadataUpdate.FastForward((j \ "ref-name").extract[String])
    case "append-files-to-ref" =>
      MetadataUpdate.AppendFilesToRef(
        (j \ "ref-name").extract[String],
        (j \ "files").extract[List[String]],
        (j \ "timestamp-ms").extractOpt[Long].getOrElse(System.currentTimeMillis()),
        (j \ "file-stats").extractOpt[Map[String, List[ColStatDef]]].getOrElse(Map.empty),
        (j \ "summary").extractOpt[Map[String, String]].getOrElse(Map.empty))
    case "row-delta" =>
      MetadataUpdate.RowDelta(
        (j \ "added-files").extract[List[String]],
        (j \ "added-delete-files").extract[List[DeleteFileDef]],
        (j \ "timestamp-ms").extractOpt[Long].getOrElse(System.currentTimeMillis()),
        (j \ "file-stats").extractOpt[Map[String, List[ColStatDef]]].getOrElse(Map.empty),
        (j \ "summary").extractOpt[Map[String, String]].getOrElse(Map.empty))
    case "rewrite-deletes" =>
      MetadataUpdate.RewriteDeletes(
        (j \ "removed-delete-files").extract[List[String]],
        (j \ "added-delete-files").extract[List[DeleteFileDef]],
        (j \ "timestamp-ms").extractOpt[Long].getOrElse(System.currentTimeMillis()),
        (j \ "summary").extractOpt[Map[String, String]].getOrElse(Map.empty))
    case other => throw new IllegalArgumentException(s"unknown update $other")
  }

  /** POST /v1/tables/rename — discards the result, bare 200 no body. */
  private def renameTable(ex: HttpExchange): Unit = {
    val b = body(ex)
    val srcNs = (b \ "source" \ "namespace").extract[List[String]]
    val srcName = (b \ "source" \ "name").extract[String]
    val dstNs = (b \ "destination" \ "namespace").extract[List[String]]
    val dstName = (b \ "destination" \ "name").extract[String]
    catalog.renameTable(Identifier.of(srcNs.toArray, srcName),
      Identifier.of(dstNs.toArray, dstName))
    empty(ex, 200)
  }

  private def toJObj(m: Map[String, String]): JObject =
    JObject(m.toList.map { case (k, v) => k -> (JString(v): JValue) })
}
