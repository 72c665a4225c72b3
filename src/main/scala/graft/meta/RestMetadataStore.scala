package graft.meta

import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import org.json4s._
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.connector.catalog.Identifier

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
  * Paths, request bodies and error responses are encoded and decoded by
  * [[RestWire]], the module the serving side decodes them with.
  *
  * The full surface round-trips: namespaces, tables, appends,
  * overwrites, schema evolution, rename, rollback, time travel
  * (`?version=N` on LoadTable) and partition-spec evolution.
  */
final class RestMetadataStore(val warehouse: String) extends MetaStore {

  private implicit val formats: Formats = DefaultFormats
  private val base = warehouse.stripSuffix("/")
  private val http = HttpClient.newHttpClient()
  private def nsPath(ns: Seq[String]): String = s"/v1/namespaces/${RestWire.segment(ns)}"
  private def tablePath(ns: Seq[String], t: String): String =
    s"${nsPath(ns)}/tables/${RestWire.segment(t)}"

  private case class Resp(code: Int, body: String) {
    lazy val json: JValue = JsonMethods.parse(body)
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

  private def fail(r: Resp, ns: Seq[String], t: Option[String]): Nothing =
    throw RestWire.failure(r.code, r.body, ns, t)

  private def expect(r: Resp, codes: Set[Int], ns: Seq[String],
                     t: Option[String] = None): Resp =
    if (codes.contains(r.code)) r else fail(r, ns, t)

  // ---- namespaces -------------------------------------------------------

  def namespaceExists(ns: Seq[String]): Boolean =
    ns.nonEmpty && call("HEAD", nsPath(ns)).code == 204

  def createNamespace(ns: Seq[String], props: Map[String, String]): Unit = {
    require(ns.nonEmpty && ns.forall(_.nonEmpty), s"invalid namespace ${ns.mkString(".")}")
    expect(call("POST", "/v1/namespaces", Some(RestWire.Namespace(ns, props).json)), Set(200), ns)
    ()
  }

  def loadNamespace(ns: Seq[String]): Map[String, String] =
    RestWire.Namespace.from(expect(call("GET", nsPath(ns)), Set(200), ns).json)
      .properties

  def setNamespaceProperties(ns: Seq[String], props: Map[String, String]): Unit = {
    // the wire verb is updates+removals; replacement = update everything,
    // remove whatever the current document has that the new one lacks
    val removals = loadNamespace(ns).keySet -- props.keySet
    val r = call("POST", nsPath(ns) + "/properties",
      Some(RestWire.UpdateNamespace(removals.toList.sorted, props).json))
    expect(r, Set(200), ns); ()
  }

  def listNamespaces(parent: Seq[String]): Seq[Seq[String]] = {
    val q = if (parent.isEmpty) "" else s"?parent=${RestWire.segment(parent)}"
    val r = expect(call("GET", s"/v1/namespaces$q"), Set(200), parent)
    (r.json \ "namespaces").extract[List[List[String]]].map(_.toSeq)
  }

  def dropNamespace(ns: Seq[String]): Boolean = {
    val r = call("DELETE", nsPath(ns))
    r.code match {
      case 204 => true
      case 404 => false
      case _ => fail(r, ns, None)
    }
  }

  // ---- tables -----------------------------------------------------------

  def tableExists(ns: Seq[String], t: String): Boolean =
    call("HEAD", tablePath(ns, t)).code == 204

  def listTables(ns: Seq[String]): Seq[String] = {
    val r = expect(call("GET", nsPath(ns) + "/tables"), Set(200), ns)
    (r.json \ "identifiers").extract[List[JValue]]
      .map(j => (j \ "name").extract[String]).sorted
  }

  /** metadata-location of the current version, e.g.
    * `.../metadata/v7.metadata.json` — the wire's version carrier. */
  private val VersionRe = ".*/v(\\d+)\\.metadata\\.json$".r

  private def loadRaw(ns: Seq[String], t: String,
                      version: Option[Int] = None): (TableMetadata, Int, String) = {
    val q = version.map(v => s"?version=$v").getOrElse("")
    val r = expect(call("GET", tablePath(ns, t) + q),
      Set(200), ns, Some(t))
    val loc = (r.json \ "metadata-location").extract[String]
    val v = loc match { case VersionRe(n) => n.toInt; case _ => 0 }
    (TableMetadata.fromJson(r.json \ "metadata"), v, loc)
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
    val r = call("POST", nsPath(ns) + "/tables",
      Some(RestWire.CreateTable(t, schema, spec.fields, m.properties).json))
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
    val r = call("POST", tablePath(ns, table),
      Some(RestWire.Commit(requirements, updates).json))
    TableMetadata.fromJson(expect(r, Set(200), ns, Some(table)).json \ "metadata")
  }

  def dropTable(ns: Seq[String], t: String): Boolean = {
    val r = call("DELETE", tablePath(ns, t))
    r.code match {
      case 204 => true
      case 404 => false
      case _ => fail(r, ns, Some(t))
    }
  }

  def renameTable(fromNs: Seq[String], from: String,
                  toNs: Seq[String], to: String): Unit = {
    val r = call("POST", "/v1/tables/rename", Some(RestWire.Rename(
      Identifier.of(fromNs.toArray, from), Identifier.of(toNs.toArray, to)).json))
    expect(r, Set(200), fromNs, Some(from))
    // the moved table's data dir changed with it
    dataDirCache.remove(fromNs :+ from)
    dataDirCache.remove(toNs :+ to)
    ()
  }

  /** The backing catalog's data location for the table — shared storage
    * both sides can reach. Memoized: locations are fixed at create. */
  private val dataDirCache =
    new java.util.concurrent.ConcurrentHashMap[Seq[String], String]()

  def dataDir(ns: Seq[String], t: String): String = {
    val key = ns :+ t
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
  override def importFile(srcAbs: String, destAbs: String): Unit =
    phys(destAbs).importFile(srcAbs, destAbs)
}
