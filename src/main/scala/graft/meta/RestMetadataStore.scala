package graft.meta

import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.commit._

/** [[MetaStore]] that fronts ANOTHER graft catalog over its own REST
  * wire protocol — the federation backend the reference ships as `rest`
  * (`/root/reference/main.go:14`: one catalog delegating to a second
  * catalog's HTTP surface). Point a warehouse at `http://host:port` and
  * every metadata operation becomes a wire call; data files live on
  * storage both sides share (the object store in production, local disk
  * in tests), reached through the `location` the backing catalog hands
  * back.
  *
  * Commits forward the requirements+updates document, so the BACKING
  * catalog's committer runs the optimistic CAS loop — this store's raw
  * (version, document) CAS is intentionally unsupported; the wire
  * protocol arbitrates one level down, exactly once.
  *
  * The full surface round-trips: namespaces, tables, appends,
  * overwrites, schema evolution, rename, rollback, time travel
  * (`?version=N` on LoadTable) and partition-spec evolution.
  */
final class RestMetadataStore(val warehouse: String) extends MetaStore {

  private implicit val formats: Formats = DefaultFormats
  private val base = warehouse.stripSuffix("/")
  private val http = HttpClient.newHttpClient()
  private val Unit31 = "\u001F"

  /** Percent-encode one path segment. URLEncoder is form-encoding —
    * its '+' for space would NOT decode back to a space in a URI path,
    * so rewrite it; everything else ('/', '#', '?', '%') is covered. */
  private def seg(s: String): String =
    URLEncoder.encode(s, "UTF-8").replace("+", "%20")

  private def enc(ns: Seq[String]): String = seg(ns.mkString(Unit31))

  private case class Resp(code: Int, body: String) {
    def json: JValue = JsonMethods.parse(body)
  }

  private def call(method: String, path: String, body: Option[JValue] = None): Resp = {
    val b = HttpRequest.newBuilder(java.net.URI.create(base + path))
    val req = (body match {
      case Some(j) => b.header("Content-Type", "application/json").method(method,
        HttpRequest.BodyPublishers.ofString(JsonMethods.compact(JsonMethods.render(j)), UTF_8))
      case None => b.method(method, HttpRequest.BodyPublishers.noBody())
    }).build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    Resp(r.statusCode(), r.body())
  }

  /** Map the wire error envelope back onto the exception vocabulary the
    * catalog layer translates (same classes the local stores throw). */
  private def fail(r: Resp, ns: Seq[String], t: Option[String]): Nothing = {
    val tpe = try (r.json \ "error" \ "type").extractOpt[String].getOrElse("")
    catch { case _: Exception => "" }
    val msg = try (r.json \ "error" \ "message").extractOpt[String].getOrElse(r.body)
    catch { case _: Exception => r.body }
    (r.code, tpe) match {
      case (404, "NoSuchTableException") => throw noSuchTable(ns, t.getOrElse(""))
      case (404, _) => throw noSuchNamespace(ns)
      case (409, "CommitFailedException") => throw new CommitFailedException(msg)
      case (409, _) => throw new IllegalStateException(msg)
      case (422, _) => throw new IllegalArgumentException(msg)
      case _ => throw new java.io.IOException(s"HTTP ${r.code}: $msg")
    }
  }

  private def expect(r: Resp, codes: Set[Int], ns: Seq[String],
                     t: Option[String] = None): Resp =
    if (codes.contains(r.code)) r else fail(r, ns, t)

  // ---- namespaces -------------------------------------------------------

  def namespaceExists(ns: Seq[String]): Boolean =
    ns.nonEmpty && call("HEAD", s"/v1/namespaces/${enc(ns)}").code == 204

  def createNamespace(ns: Seq[String], props: Map[String, String]): Unit = {
    require(ns.nonEmpty && ns.forall(_.nonEmpty), s"invalid namespace ${ns.mkString(".")}")
    val r = call("POST", "/v1/namespaces", Some(JObject(
      "namespace" -> JArray(ns.map(JString(_)).toList),
      "properties" -> JObject(props.toList.map { case (k, v) => k -> (JString(v): JValue) }))))
    if (r.code == 409) throw new IllegalStateException(s"namespace exists: ${ns.mkString(".")}")
    expect(r, Set(200), ns); ()
  }

  def loadNamespace(ns: Seq[String]): Map[String, String] = {
    val r = expect(call("GET", s"/v1/namespaces/${enc(ns)}"), Set(200), ns)
    (r.json \ "properties").extractOpt[Map[String, String]].getOrElse(Map.empty)
  }

  def setNamespaceProperties(ns: Seq[String], props: Map[String, String]): Unit = {
    // the wire verb is updates+removals; replacement = update everything,
    // remove whatever the current document has that the new one lacks
    val removals = loadNamespace(ns).keySet -- props.keySet
    val r = call("POST", s"/v1/namespaces/${enc(ns)}/properties", Some(JObject(
      "removals" -> JArray(removals.toList.sorted.map(JString(_))),
      "updates" -> JObject(props.toList.map { case (k, v) => k -> (JString(v): JValue) }))))
    expect(r, Set(200), ns); ()
  }

  def listNamespaces(parent: Seq[String]): Seq[Seq[String]] = {
    val q = if (parent.isEmpty) "" else s"?parent=${enc(parent)}"
    val r = expect(call("GET", s"/v1/namespaces$q"), Set(200), parent)
    (r.json \ "namespaces").extract[List[List[String]]].map(_.toSeq)
  }

  def dropNamespace(ns: Seq[String]): Boolean = {
    val r = call("DELETE", s"/v1/namespaces/${enc(ns)}")
    r.code match {
      case 204 => true
      case 404 => false
      case _ => fail(r, ns, None)
    }
  }

  // ---- tables -----------------------------------------------------------

  def tableExists(ns: Seq[String], t: String): Boolean =
    call("HEAD", s"/v1/namespaces/${enc(ns)}/tables/${seg(t)}").code == 204

  def listTables(ns: Seq[String]): Seq[String] = {
    val r = expect(call("GET", s"/v1/namespaces/${enc(ns)}/tables"), Set(200), ns)
    (r.json \ "identifiers").extract[List[JValue]]
      .map(j => (j \ "name").extract[String]).sorted
  }

  /** metadata-location of the current version, e.g.
    * `.../metadata/v7.metadata.json` — the wire's version carrier. */
  private val VersionRe = ".*/v(\\d+)\\.metadata\\.json$".r

  private def loadRaw(ns: Seq[String], t: String,
                      version: Option[Int] = None): (TableMetadata, Int, String) = {
    val q = version.map(v => s"?version=$v").getOrElse("")
    val r = expect(call("GET", s"/v1/namespaces/${enc(ns)}/tables/${seg(t)}$q"),
      Set(200), ns, Some(t))
    val loc = (r.json \ "metadata-location").extract[String]
    val v = loc match { case VersionRe(n) => n.toInt; case _ => 0 }
    val m = TableMetadata.fromJson(
      JsonMethods.compact(JsonMethods.render(r.json \ "metadata")))
    (m, v, loc)
  }

  def load(ns: Seq[String], t: String): (TableMetadata, Int) = {
    val (m, v, _) = loadRaw(ns, t); (m, v)
  }

  def currentVersion(ns: Seq[String], t: String): Int =
    if (!tableExists(ns, t)) 0 else load(ns, t)._2

  def metadataLocation(ns: Seq[String], t: String, version: Int): String = {
    val (_, v, loc) = loadRaw(ns, t)
    loc.replace(s"v$v.metadata.json", s"v$version.metadata.json")
  }

  def loadVersion(ns: Seq[String], t: String, v: Int): TableMetadata =
    loadRaw(ns, t, Some(v))._1

  def createTable(ns: Seq[String], t: String, m: TableMetadata): Unit = {
    val schema = m.currentSchema
    val spec = m.specs.find(_.specId == m.defaultSpecId).getOrElse(PartitionSpecDef(0, Nil))
    val r = call("POST", s"/v1/namespaces/${enc(ns)}/tables", Some(JObject(
      "name" -> JString(t),
      "schema" -> Extraction.decompose(schema)(TableMetadata.formats),
      "partition-spec" -> Extraction.decompose(spec.fields)(TableMetadata.formats),
      "properties" -> JObject(m.properties.toList.map { case (k, v) => k -> (JString(v): JValue) }))))
    if (r.code == 409) throw new IllegalStateException(s"table exists: ${(ns :+ t).mkString(".")}")
    expect(r, Set(200), ns, Some(t)); ()
  }

  /** Raw (version, document) CAS is not a wire verb — commits go through
    * [[commitOps]] so the backing catalog's committer arbitrates. */
  def commit(ns: Seq[String], t: String, expectedVersion: Int,
             next: TableMetadata): Boolean =
    throw new UnsupportedOperationException(
      "RestMetadataStore commits via commitOps (wire requirements+updates)")

  override def commitOps(ns: Seq[String], table: String,
                         requirements: Seq[Requirement],
                         updates: Seq[MetadataUpdate]): TableMetadata = {
    val r = call("POST", s"/v1/namespaces/${enc(ns)}/tables/${seg(table)}", Some(JObject(
      "requirements" -> JArray(requirements.map(reqJson).toList),
      "updates" -> JArray(updates.map(updateJson).toList))))
    val ok = expect(r, Set(200), ns, Some(table))
    TableMetadata.fromJson(
      JsonMethods.compact(JsonMethods.render(ok.json \ "metadata")))
  }

  private def reqJson(q: Requirement): JValue = q match {
    case Requirement.AssertCurrentSchemaId(id) => JObject(
      "type" -> JString("assert-current-schema-id"), "current-schema-id" -> JInt(id))
    case Requirement.AssertTableUuid(u) => JObject(
      "type" -> JString("assert-table-uuid"), "uuid" -> JString(u))
    case Requirement.AssertDefaultSpecId(id) => JObject(
      "type" -> JString("assert-default-spec-id"), "default-spec-id" -> JInt(id))
    case Requirement.AssertCurrentSnapshotId(id) =>
      val fields: List[(String, JValue)] =
        List("type" -> JString("assert-current-snapshot-id")) ++
          id.map(i => "snapshot-id" -> (JInt(i): JValue))
      JObject(fields)
    case Requirement.AssertMaxSummaryBelow(k, v) => JObject(
      "type" -> JString("assert-max-summary-below"),
      "key" -> JString(k), "value" -> JInt(v))
    case Requirement.AssertCreate => JObject("type" -> JString("assert-create"))
  }

  private def statsJson(stats: Map[String, List[ColStatDef]]): JValue =
    Extraction.decompose(stats)(TableMetadata.formats)

  private def updateJson(u: MetadataUpdate): JValue = u match {
    case MetadataUpdate.AddSchema(s) => JObject(
      "action" -> JString("add-schema"),
      "schema" -> Extraction.decompose(s)(TableMetadata.formats))
    case MetadataUpdate.SetCurrentSchema(id) => JObject(
      "action" -> JString("set-current-schema"), "schema-id" -> JInt(id))
    case MetadataUpdate.SetProperties(p) => JObject(
      "action" -> JString("set-properties"),
      "updates" -> JObject(p.toList.map { case (k, v) => k -> (JString(v): JValue) }))
    case MetadataUpdate.RemoveProperties(ks) => JObject(
      "action" -> JString("remove-properties"),
      "removals" -> JArray(ks.map(JString(_)).toList))
    case MetadataUpdate.SetLocation(l) => JObject(
      "action" -> JString("set-location"), "location" -> JString(l))
    case MetadataUpdate.AddSnapshot(s) => JObject(
      "action" -> JString("add-snapshot"),
      "snapshot" -> Extraction.decompose(s)(TableMetadata.formats))
    case MetadataUpdate.SetCurrentSnapshot(id) => JObject(
      "action" -> JString("set-current-snapshot"), "snapshot-id" -> JInt(id))
    case MetadataUpdate.OverwritePartitions(files, pvs, ts, stats, extra) => JObject(
      "action" -> JString("overwrite-partitions"),
      "files" -> JArray(files.map(JString(_))),
      "partition-values" -> Extraction.decompose(pvs)(TableMetadata.formats),
      "timestamp-ms" -> JInt(ts),
      "file-stats" -> statsJson(stats),
      "summary" -> JObject(extra.toList.map { case (k, v) => k -> (JString(v): JValue) }))
    case MetadataUpdate.AddPartitionSpec(spec) => JObject(
      "action" -> JString("add-partition-spec"),
      "spec" -> Extraction.decompose(spec)(TableMetadata.formats))
    case MetadataUpdate.AppendFiles(files, ts, stats, extra) => JObject(
      "action" -> JString("append-files"),
      "files" -> JArray(files.map(JString(_))),
      "timestamp-ms" -> JInt(ts),
      "file-stats" -> statsJson(stats),
      "summary" -> JObject(extra.toList.map { case (k, v) => k -> (JString(v): JValue) }))
    case MetadataUpdate.ReplaceFiles(files, ts, stats, extra) => JObject(
      "action" -> JString("replace-files"),
      "files" -> JArray(files.map(JString(_))),
      "timestamp-ms" -> JInt(ts),
      "file-stats" -> statsJson(stats),
      "summary" -> JObject(extra.toList.map { case (k, v) => k -> (JString(v): JValue) }))
    case MetadataUpdate.RewriteFiles(removed, added, ts, stats, extra) => JObject(
      "action" -> JString("rewrite-files"),
      "removed-files" -> JArray(removed.map(JString(_))),
      "added-files" -> JArray(added.map(JString(_))),
      "timestamp-ms" -> JInt(ts),
      "file-stats" -> statsJson(stats),
      "summary" -> JObject(extra.toList.map { case (k, v) => k -> (JString(v): JValue) }))
    case MetadataUpdate.SetRef(name, sid, refType) => JObject(
      "action" -> JString("set-ref"), "ref-name" -> JString(name),
      "snapshot-id" -> JInt(sid), "ref-type" -> JString(refType))
    case MetadataUpdate.RemoveRef(name) => JObject(
      "action" -> JString("remove-ref"), "ref-name" -> JString(name))
    case MetadataUpdate.RemoveSnapshots(ids) => JObject(
      "action" -> JString("remove-snapshots"),
      "snapshot-ids" -> JArray(ids.toList.map(id => JInt(id): JValue)))
    case MetadataUpdate.FastForward(name) => JObject(
      "action" -> JString("fast-forward"), "ref-name" -> JString(name))
    case MetadataUpdate.AppendFilesToRef(ref, files, ts, stats, extra) => JObject(
      "action" -> JString("append-files-to-ref"),
      "ref-name" -> JString(ref),
      "files" -> JArray(files.map(JString(_))),
      "timestamp-ms" -> JInt(ts),
      "file-stats" -> statsJson(stats),
      "summary" -> JObject(extra.toList.map { case (k, v) => k -> (JString(v): JValue) }))
    case MetadataUpdate.RowDelta(added, deletes, ts, stats, extra) => JObject(
      "action" -> JString("row-delta"),
      "added-files" -> JArray(added.map(JString(_))),
      "added-delete-files" ->
        Extraction.decompose(deletes)(TableMetadata.formats),
      "timestamp-ms" -> JInt(ts),
      "file-stats" -> statsJson(stats),
      "summary" -> JObject(extra.toList.map { case (k, v) => k -> (JString(v): JValue) }))
    case MetadataUpdate.RewriteDeletes(removed, added, ts, extra) => JObject(
      "action" -> JString("rewrite-deletes"),
      "removed-delete-files" -> JArray(removed.map(JString(_))),
      "added-delete-files" ->
        Extraction.decompose(added)(TableMetadata.formats),
      "timestamp-ms" -> JInt(ts),
      "summary" -> JObject(extra.toList.map { case (k, v) => k -> (JString(v): JValue) }))
    case other => throw new UnsupportedOperationException(
      s"update $other has no wire encoding")
  }

  def dropTable(ns: Seq[String], t: String): Boolean = {
    val r = call("DELETE", s"/v1/namespaces/${enc(ns)}/tables/${seg(t)}")
    r.code match {
      case 204 => true
      case 404 => false
      case _ => fail(r, ns, Some(t))
    }
  }

  def renameTable(fromNs: Seq[String], from: String,
                  toNs: Seq[String], to: String): Unit = {
    val r = call("POST", "/v1/tables/rename", Some(JObject(
      "source" -> JObject("namespace" -> JArray(fromNs.map(JString(_)).toList),
        "name" -> JString(from)),
      "destination" -> JObject("namespace" -> JArray(toNs.map(JString(_)).toList),
        "name" -> JString(to)))))
    expect(r, Set(200), fromNs, Some(from))
    // the moved table's data dir changed with it
    dataDirCache.remove((fromNs :+ from).mkString(Unit31))
    dataDirCache.remove((toNs :+ to).mkString(Unit31))
    ()
  }

  /** The backing catalog's data location for the table — shared storage
    * both sides can reach. Memoized: locations are fixed at create. */
  private val dataDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def dataDir(ns: Seq[String], t: String): String = {
    val key = (ns :+ t).mkString(Unit31)
    Option(dataDirCache.get(key)).getOrElse {
      val loc = try load(ns, t)._1.location
      catch { case _: Exception =>
        // pre-create probe: the backing catalog assigns the real
        // location at CreateTable time and ignores this value
        return s"$base/unassigned/${(ns :+ t).mkString("/")}/data"
      }
      dataDirCache.put(key, loc)
      loc
    }
  }

  // ---- physical files: shared-storage paths, dispatched by scheme ------

  private def phys(abs: String): MetaStore = {
    require(!abs.startsWith("http"), s"not a storage path: $abs")
    MetaStore.forWarehouse(abs)
  }

  def ensureRoot(): Unit = () // the backing catalog owns its root

  def listParquetUnder(absDir: String): List[String] = phys(absDir).listParquetUnder(absDir)
  def deleteTree(absDir: String): Unit = phys(absDir).deleteTree(absDir)
  def deleteFileIfExists(abs: String): Boolean = phys(abs).deleteFileIfExists(abs)
  def lastModifiedMs(abs: String): Option[Long] = phys(abs).lastModifiedMs(abs)

  def fileSizeBytes(abs: String): Option[Long] = phys(abs).fileSizeBytes(abs)

  private def noSuchNamespace(ns: Seq[String]) =
    new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(ns.toArray)
  private def noSuchTable(ns: Seq[String], t: String) =
    new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
      org.apache.spark.sql.connector.catalog.Identifier.of(ns.toArray, t))
}
