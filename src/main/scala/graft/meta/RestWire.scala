package graft.meta

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import org.json4s._

import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.Identifier

import graft.commit._
import graft.commit.MetadataUpdate._
import graft.commit.Requirement._

/** The REST wire format, both directions: what [[graft.server.RestServer]]
  * decodes and [[RestMetadataStore]] (the federation client) encodes —
  * namespace path segments, the request bodies, the commit's requirements
  * and updates, and the error envelope. Decoding accepts exactly the
  * reference-shaped JSON: a body that does not map is a json4s
  * `MappingException` (400), an unknown requirement or update kind an
  * `IllegalArgumentException` (422).
  */
object RestWire {
  private implicit val formats: Formats = DefaultFormats

  private implicit final class Members(private val j: JValue) extends AnyVal {
    def field[A: Manifest](k: String): A = (j \ k).extract[A]
    def fieldOpt[A: Manifest](k: String): Option[A] = (j \ k).extractOpt[A]
    def fieldOr[A: Manifest](k: String, default: => A): A = fieldOpt[A](k).getOrElse(default)
    /** A member the reference binds as required: absent or null does not
      * map, where `field` would extract an empty list or object. */
    def required(k: String): JValue = j \ k match {
      case JNothing | JNull => throw new MappingException(s"missing required member '$k'")
      case v => v
    }
  }

  private def obj(members: (String, Any)*): JObject =
    JObject(members.map { case (k, v) => k -> Extraction.decompose(v) }.toList)

  // ---- namespace path segments -------------------------------------------
  // the reference joins a namespace's levels with 0x1F (`models.go:10`)

  private val Unit31 = "\u001f"

  /** One percent-encoded path segment. URLEncoder form-encodes a space as
    * '+', which a path does not decode back to a space. */
  def segment(name: String): String = URLEncoder.encode(name, UTF_8).replace("+", "%20")

  /** A namespace's levels as one path segment. */
  def segment(ns: Seq[String]): String = segment(ns.mkString(Unit31))

  /** Decode one raw path segment. In a path '+' is a plus sign, not the
    * space form decoding makes of it. */
  def decodeSegment(raw: String): String = URLDecoder.decode(raw.replace("+", "%2B"), UTF_8)

  /** The levels of a decoded namespace segment or `?parent=` value. */
  def levels(decoded: String): Seq[String] = decoded.split(Unit31, -1).toSeq

  // ---- request bodies ----------------------------------------------------

  /** The create-namespace body, also the create and load responses. */
  final case class Namespace(namespace: Seq[String], properties: Map[String, String]) {
    def json: JValue = obj("namespace" -> namespace, "properties" -> properties)
  }
  object Namespace {
    def from(j: JValue): Namespace = Namespace(j.required("namespace").extract[List[String]],
      j.fieldOr("properties", Map.empty[String, String]))
  }

  final case class UpdateNamespace(removals: Seq[String], updates: Map[String, String]) {
    def json: JValue = obj("removals" -> removals, "updates" -> updates)
  }
  object UpdateNamespace {
    def from(j: JValue): UpdateNamespace = UpdateNamespace(
      j.fieldOr("removals", List.empty[String]), j.fieldOr("updates", Map.empty[String, String]))
  }

  final case class CreateTable(name: String, schema: SchemaDef, spec: List[PartitionFieldDef],
                               properties: Map[String, String]) {
    def json: JValue = obj("name" -> name, "schema" -> schema, "partition-spec" -> spec,
      "properties" -> properties)
  }
  object CreateTable {
    /** `stage-create: true`, which the server refuses before decoding. */
    def staged(j: JValue): Boolean = j.fieldOr("stage-create", false)
    def from(j: JValue): CreateTable = CreateTable(j.field[String]("name"),
      schema(j.required("schema")),
      j.fieldOr("partition-spec", List.empty[PartitionFieldDef]),
      j.fieldOr("properties", Map.empty[String, String]))
  }

  /** A missing `schemaId` is 0. */
  private def schema(j: JValue): SchemaDef =
    SchemaDef(j.fieldOr("schemaId", 0), j.field[List[FieldDef]]("fields"))

  /** The body's identifier is not part of it: the URL names the table. */
  final case class Commit(requirements: Seq[Requirement], updates: Seq[MetadataUpdate]) {
    def json: JValue = JObject("requirements" -> JArray(requirements.map(encode).toList),
      "updates" -> JArray(updates.map(encode).toList))
  }
  object Commit {
    def from(j: JValue): Commit = Commit(
      j.fieldOr("requirements", List.empty[JValue]).map(requirement),
      j.fieldOr("updates", List.empty[JValue]).map(update))
  }

  final case class Rename(from: Identifier, to: Identifier) {
    def json: JValue = JObject("source" -> ident(from), "destination" -> ident(to))
  }
  object Rename {
    def from(j: JValue): Rename = Rename(ident(j \ "source"), ident(j \ "destination"))
  }

  private def ident(i: Identifier): JValue =
    obj("namespace" -> i.namespace.toList, "name" -> i.name)
  private def ident(j: JValue): Identifier =
    Identifier.of(j.field[List[String]]("namespace").toArray, j.field[String]("name"))

  // ---- requirements ------------------------------------------------------

  private def req(tpe: String, members: (String, Any)*) = obj(("type" -> tpe) +: members: _*)

  def encode(q: Requirement): JObject = q match {
    case AssertTableUuid(u) => req("assert-table-uuid", "uuid" -> u)
    case AssertCurrentSchemaId(id) => req("assert-current-schema-id", "current-schema-id" -> id)
    case AssertDefaultSpecId(id) => req("assert-default-spec-id", "default-spec-id" -> id)
    case AssertCurrentSnapshotId(id) => req("assert-current-snapshot-id", "snapshot-id" -> id)
    case AssertMaxSummaryBelow(k, v) => req("assert-max-summary-below", "key" -> k, "value" -> v)
  }

  def requirement(j: JValue): Requirement = j.field[String]("type") match {
    case "assert-table-uuid" => AssertTableUuid(j.field[String]("uuid"))
    case "assert-current-schema-id" => AssertCurrentSchemaId(j.field[Int]("current-schema-id"))
    case "assert-default-spec-id" => AssertDefaultSpecId(j.field[Int]("default-spec-id"))
    case "assert-current-snapshot-id" => AssertCurrentSnapshotId(j.fieldOpt[Long]("snapshot-id"))
    case "assert-max-summary-below" =>
      AssertMaxSummaryBelow(j.field[String]("key"), j.field[Long]("value"))
    case other => throw new IllegalArgumentException(s"unknown requirement $other")
  }

  // ---- updates -----------------------------------------------------------

  private type Stats = Map[String, List[ColStatDef]]

  private def upd(action: String, members: (String, Any)*) =
    obj(("action" -> action) +: members: _*)

  /** A file-carrying update: its own members, then the shared tail. */
  private def files(action: String, ts: Long, stats: Stats, summary: Map[String, String])(
      own: (String, Any)*) =
    upd(action, own ++ Seq("timestamp-ms" -> ts, "file-stats" -> stats, "summary" -> summary): _*)

  /** The shared tail's decoder: a missing `timestamp-ms` is now, missing
    * `file-stats` and `summary` are empty. */
  private def files[A](j: JValue)(make: (Long, Stats, Map[String, String]) => A): A =
    make(j.fieldOr("timestamp-ms", System.currentTimeMillis()),
      j.fieldOr("file-stats", Map.empty: Stats), j.fieldOr("summary", Map.empty[String, String]))

  def encode(u: MetadataUpdate): JObject = u match {
    case AddSchema(s) => upd("add-schema", "schema" -> s)
    case SetCurrentSchema(id) => upd("set-current-schema", "schema-id" -> id)
    case SetProperties(p) => upd("set-properties", "updates" -> p)
    case RemoveProperties(ks) => upd("remove-properties", "removals" -> ks)
    case SetLocation(l) => upd("set-location", "location" -> l)
    case AddSnapshot(s) => upd("add-snapshot", "snapshot" -> s)
    case SetCurrentSnapshot(id) => upd("set-current-snapshot", "snapshot-id" -> id)
    case AddPartitionSpec(s) => upd("add-partition-spec", "spec" -> s)
    case SetRef(name, id, tpe) =>
      upd("set-ref", "ref-name" -> name, "snapshot-id" -> id, "ref-type" -> tpe)
    case RemoveRef(name) => upd("remove-ref", "ref-name" -> name)
    case RemoveSnapshots(ids) => upd("remove-snapshots", "snapshot-ids" -> ids)
    case FastForward(name) => upd("fast-forward", "ref-name" -> name)
    case AppendFiles(fs, ts, st, sm) => files("append-files", ts, st, sm)("files" -> fs)
    case ReplaceFiles(fs, ts, st, sm) => files("replace-files", ts, st, sm)("files" -> fs)
    case OverwritePartitions(fs, pvs, ts, st, sm) =>
      files("overwrite-partitions", ts, st, sm)("files" -> fs, "partition-values" -> pvs)
    case RewriteFiles(rm, add, ts, st, sm) =>
      files("rewrite-files", ts, st, sm)("removed-files" -> rm, "added-files" -> add)
    case AppendFilesToRef(ref, fs, ts, st, sm) =>
      files("append-files-to-ref", ts, st, sm)("ref-name" -> ref, "files" -> fs)
    case RowDelta(add, dels, ts, st, sm) =>
      files("row-delta", ts, st, sm)("added-files" -> add, "added-delete-files" -> dels)
    case RewriteDeletes(rm, add, ts, sm) => upd("rewrite-deletes", "removed-delete-files" -> rm,
      "added-delete-files" -> add, "timestamp-ms" -> ts, "summary" -> sm)
  }

  def update(j: JValue): MetadataUpdate = j.field[String]("action") match {
    case "add-schema" => AddSchema(schema(j \ "schema"))
    case "set-current-schema" => SetCurrentSchema(j.field[Int]("schema-id"))
    case "set-properties" => SetProperties(j.field[Map[String, String]]("updates"))
    case "remove-properties" => RemoveProperties(j.field[List[String]]("removals"))
    case "set-location" => SetLocation(j.field[String]("location"))
    case "add-snapshot" => AddSnapshot(j.field[SnapshotDef]("snapshot"))
    case "set-current-snapshot" => SetCurrentSnapshot(j.field[Long]("snapshot-id"))
    case "add-partition-spec" => AddPartitionSpec(j.field[PartitionSpecDef]("spec"))
    case "set-ref" => SetRef(j.field[String]("ref-name"), j.field[Long]("snapshot-id"),
      j.field[String]("ref-type"))
    case "remove-ref" => RemoveRef(j.field[String]("ref-name"))
    case "remove-snapshots" => RemoveSnapshots(j.field[List[Long]]("snapshot-ids"))
    case "fast-forward" => FastForward(j.field[String]("ref-name"))
    case "append-files" => files(j)(AppendFiles(j.field[List[String]]("files"), _, _, _))
    case "replace-files" => files(j)(ReplaceFiles(j.field[List[String]]("files"), _, _, _))
    case "overwrite-partitions" => files(j)(OverwritePartitions(j.field[List[String]]("files"),
      j.field[List[Map[String, String]]]("partition-values"), _, _, _))
    case "rewrite-files" => files(j)(RewriteFiles(j.field[List[String]]("removed-files"),
      j.field[List[String]]("added-files"), _, _, _))
    case "append-files-to-ref" => files(j)(AppendFilesToRef(j.field[String]("ref-name"),
      j.field[List[String]]("files"), _, _, _))
    case "row-delta" => files(j)(RowDelta(j.field[List[String]]("added-files"),
      j.field[List[DeleteFileDef]]("added-delete-files"), _, _, _))
    case "rewrite-deletes" => files(j)((ts, _, sm) => RewriteDeletes(
      j.field[List[String]]("removed-delete-files"),
      j.field[List[DeleteFileDef]]("added-delete-files"), ts, sm))
    case other => throw new IllegalArgumentException(s"unknown update $other")
  }

  // ---- error envelope `{error:{message,type,code}}` (`errors.go:5-13`) -----

  def error(code: Int, tpe: String, message: String): JValue =
    JObject("error" -> JObject("message" -> JString(message), "type" -> JString(tpe),
      "code" -> JInt(code)))

  /** Server side: the status and error type an exception answers with. A
    * body that does not map answers 400, like the reference's
    * ShouldBindJSON failure path (`tables.go:163-169`). */
  def status(e: Throwable): (Int, String) = e match {
    case _: NoSuchNamespaceException => (404, "NoSuchNamespaceException")
    case _: NoSuchTableException => (404, "NoSuchTableException")
    case _: NamespaceAlreadyExistsException | _: TableAlreadyExistsException =>
      (409, "AlreadyExistsException")
    case _: NonEmptyNamespaceException => (409, "NamespaceNotEmptyException")
    case _: CommitFailedException => (409, "CommitFailedException")
    case _: IllegalArgumentException => (422, "UnprocessableEntityException")
    case _: MappingException | _: com.fasterxml.jackson.core.JacksonException =>
      (400, "BadRequestException")
    case _ => (500, "InternalServerError")
  }

  /** Client side: the exception an error response stands for — the ones
    * the local stores throw, which the catalog layer translates. */
  def failure(code: Int, body: String, ns: Seq[String], table: Option[String]): Exception = {
    val envelope = try org.json4s.jackson.JsonMethods.parse(body) \ "error"
    catch { case _: Exception => JNothing }
    val msg = envelope.fieldOr("message", body)
    (code, envelope.fieldOr("type", "")) match {
      case (404, "NoSuchTableException") =>
        new NoSuchTableException(Identifier.of(ns.toArray, table.getOrElse("")))
      case (404, _) => new NoSuchNamespaceException(ns.toArray)
      case (409, "CommitFailedException") => new CommitFailedException(msg)
      case (409, _) => new IllegalStateException(msg)
      case (422, _) => new IllegalArgumentException(msg)
      case _ => new java.io.IOException(s"HTTP $code: $msg")
    }
  }
}
