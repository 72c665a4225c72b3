package graft.meta

import org.json4s._
import org.json4s.jackson.Serialization

/** Versioned table-metadata model, the Spark-native re-expression of the
  * metadata document the reference serves (reference: the `LoadTableResponse
  * {metadata-location, metadata, config}` triple, `/root/reference/api/
  * handlers/models.go:72-76`, and the schema/spec/sort-order options bound
  * at `/root/reference/api/handlers/tables.go:98-110`).
  *
  * One immutable JSON document per version; all table state — versioned
  * schemas with stable field ids, partition spec (hidden-partition
  * transforms), sort order, properties, snapshots — lives here. Commits
  * never mutate: they write version N+1 (see [[MetadataStore]]).
  */
final case class FieldDef(id: Int, name: String, `type`: String, required: Boolean)

final case class SchemaDef(schemaId: Int, fields: List[FieldDef])

/** (sourceFieldId, transform, name) — transform ∈ identity | bucket[N] |
  * truncate[N] | year | month | day | hour (the hidden-partitioning
  * vocabulary the reference accepts via its partition-spec DTO). */
final case class PartitionFieldDef(sourceId: Int, transform: String, name: String)
final case class PartitionSpecDef(specId: Int, fields: List[PartitionFieldDef])

final case class SortFieldDef(sourceId: Int, direction: String, nullOrder: String)
final case class SortOrderDef(orderId: Int, fields: List[SortFieldDef])

/** Per-file, per-column value range harvested from parquet footers at
  * commit time (min/max as strings, typed by the table schema at prune
  * time). The manifest-level stats that let a scan skip whole files on
  * range predicates without opening them.
  *
  * `fieldId` is the stable schema field id stamped into the parquet file;
  * pruning resolves filters through it, so stats written before a column
  * rename (or before a name is reused by a new column) never drive a
  * wrong skip. `name` is kept for legacy stats with no id (name-matched
  * only as a fallback). */
/** Per-column min/max/null stats of one data file, plus the FILE's row
  * count (`rows`, stamped identically on every column's entry — the
  * manifest-level source for scan cardinality estimates). Optional and
  * absent on metadata written before it existed. */
final case class ColStatDef(name: String, min: String, max: String, nulls: Long,
                            fieldId: Option[Int] = None,
                            rows: Option[Long] = None)

/** An equality-delete file: a parquet file of identifier-column values
  * whose rows mark "any data row with this key, written before me, is
  * deleted" — the merge-on-read half of row-level DML. `seq` is the
  * snapshot id that committed the delete; it applies to data files whose
  * added-sequence (see [[SnapshotDef.fileSeqs]]) is STRICTLY below it,
  * so rows (re)written in the same commit — an UPDATE's new versions —
  * are never swallowed by their own delete. `keyFieldIds` are the stable
  * schema field ids of the identifier columns (rename-proof). */
final case class DeleteFileDef(path: String, seq: Long,
                               keyFieldIds: List[Int], rows: Long,
                               bytes: Long = 0L)

/** A committed data version: the files visible at this snapshot, plus
  * optional per-file column stats keyed by relative file path.
  *
  * `deleteFiles` are the live equality-delete files (merge-on-read);
  * `fileSeqs` records each data file's added-sequence (the snapshot id
  * of the commit that introduced it) — the scope key deciding which
  * deletes apply to which files. Files absent from `fileSeqs` (written
  * before this field existed) default to sequence 0: older than every
  * delete, which is exactly when they were written. */
/** `bodyRef` names the snapshot's externalized payload document (see
  * [[SnapshotBodies]]): when set, the PERSISTED form of this snapshot
  * carries empty `files`/`fileStats`/`deleteFiles`/`fileSeqs` and the
  * store re-inflates them from the body on load. In-memory documents
  * handed to the engine are always inflated — `bodyRef` rides along so
  * a later save can re-reference the unchanged body instead of
  * re-serializing the file list. */
final case class SnapshotDef(snapshotId: Long, timestampMs: Long,
                             operation: String, files: List[String],
                             summary: Map[String, String],
                             fileStats: Map[String, List[ColStatDef]] =
                               Map.empty,
                             deleteFiles: List[DeleteFileDef] = Nil,
                             fileSeqs: Map[String, Long] = Map.empty,
                             parentId: Option[Long] = None,
                             bodyRef: Option[String] = None)

/** A named snapshot pointer: `refType` is "branch" (movable — commits
  * can stack on it) or "tag" (immutable — drop and recreate to move).
  * The write-audit-publish loop and long-lived "known good" markers both
  * hang off this map; referenced snapshots are pinned against expiry. */
final case class RefDef(snapshotId: Long, refType: String)

final case class TableMetadata(
    formatVersion: Int,
    tableUuid: String,
    location: String,
    lastColumnId: Int,
    currentSchemaId: Int,
    schemas: List[SchemaDef],
    defaultSpecId: Int,
    specs: List[PartitionSpecDef],
    defaultSortOrderId: Int,
    sortOrders: List[SortOrderDef],
    properties: Map[String, String],
    currentSnapshotId: Option[Long],
    snapshots: List[SnapshotDef],
    lastSequenceNumber: Long,
    refs: Map[String, RefDef] = Map.empty) {

  def currentSchema: SchemaDef =
    schemas.find(_.schemaId == currentSchemaId).getOrElse(
      throw new IllegalStateException(s"current schema $currentSchemaId missing"))

  def currentSnapshot: Option[SnapshotDef] =
    currentSnapshotId.flatMap(id => snapshots.find(_.snapshotId == id))
}

object TableMetadata {
  implicit val formats: Formats = Serialization.formats(NoTypeHints)

  def toJson(m: TableMetadata): String = MetaJson.pretty(m)
  def fromJson(s: String): TableMetadata = {
    val m = Serialization.read[TableMetadata](s)
    // refuse documents from a NEWER writer: a format this reader does
    // not understand could parse "successfully" as an empty table
    // (exactly what body-referencing docs look like to a v1 reader)
    require(m.formatVersion <= SnapshotBodies.FormatVersion,
      s"table metadata format ${m.formatVersion} is newer than this " +
        s"reader (max ${SnapshotBodies.FormatVersion}) — upgrade")
    m
  }

  def empty(uuid: String, location: String, schema: SchemaDef,
            spec: PartitionSpecDef, order: SortOrderDef,
            props: Map[String, String]): TableMetadata =
    TableMetadata(
      formatVersion = 1, tableUuid = uuid, location = location,
      lastColumnId = SchemaBridge.maxFieldId(schema.fields),
      currentSchemaId = schema.schemaId, schemas = List(schema),
      defaultSpecId = spec.specId, specs = List(spec),
      defaultSortOrderId = order.orderId, sortOrders = List(order),
      properties = props, currentSnapshotId = None, snapshots = Nil,
      lastSequenceNumber = 0L)
}

/** Spark StructType ↔ metadata schema bridge. Field ids are carried in
  * each StructField's metadata under `parquet.field.id` — Spark's native
  * field-id key, so (a) the parquet writer stamps ids into data files and
  * (b) the reader resolves columns by id when
  * `spark.sql.parquet.fieldId.read.enabled` is on — making column RENAME
  * a pure metadata operation that still reads old files correctly
  * (reference keeps ids in the Iceberg schema JSON;
  * `/root/reference/test/server_test.go:155-160`). */
object SchemaBridge {
  import org.apache.spark.sql.types._
  import TableMetadata.formats

  val FieldIdKey = "parquet.field.id"

  def toSpark(s: SchemaDef): StructType =
    StructType(s.fields.map { f =>
      StructField(f.name, parseType(f.`type`), nullable = !f.required,
        new MetadataBuilder().putLong(FieldIdKey, f.id.toLong).build())
    })

  def fromSpark(st: StructType, firstId: Int = 1): SchemaDef = {
    var next = firstId
    def freshId(): Int = { val v = next; next += 1; v }
    val fields = st.fields.toList.map { f =>
      val id = if (f.metadata.contains(FieldIdKey))
        f.metadata.getLong(FieldIdKey).toInt
      else freshId()
      next = math.max(next, id + 1)
      FieldDef(id, f.name, formatTypeWithIds(f.dataType, () => freshId()),
        required = !f.nullable)
    }
    SchemaDef(0, fields)
  }

  /** Struct types serialize as `struct{<json FieldDef list>}` so NESTED
    * fields carry stable ids too — the precondition for nested rename
    * being metadata-only (old files resolve the renamed nested column by
    * id) and for nested add reading old files as null. Legacy DDL-string
    * structs (no ids) still parse via the fromDDL fallback. */
  private val StructIdPrefix = "struct{"

  def parseType(t: String): DataType = t match {
    case "boolean" => BooleanType
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "date" => DateType
    case "timestamp" => TimestampNTZType
    case "timestamptz" => TimestampType
    case "string" => StringType
    case "uuid" => StringType
    case "binary" => BinaryType
    case dec if dec.startsWith("decimal") =>
      val Array(p, s) = dec.stripPrefix("decimal(").stripSuffix(")").split(",")
      DecimalType(p.trim.toInt, s.trim.toInt)
    case st if st.startsWith(StructIdPrefix) =>
      StructType(structFields(st).map { f =>
        StructField(f.name, parseType(f.`type`), nullable = !f.required,
          new MetadataBuilder().putLong(FieldIdKey, f.id.toLong).build())
      })
    case arr if arr.startsWith("list<") =>
      ArrayType(parseType(arr.stripPrefix("list<").stripSuffix(">")))
    case other => DataType.fromDDL(other)
  }

  def formatType(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case DateType => "date"
    case TimestampNTZType => "timestamp"
    case TimestampType => "timestamptz"
    case StringType => "string"
    case BinaryType => "binary"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case ArrayType(e, _) => s"list<${formatType(e)}>"
    case other => other.sql.toLowerCase
  }

  /** [[formatType]] that assigns fresh stable ids to struct fields at any
    * depth (existing `parquet.field.id` metadata wins over assignment). */
  def formatTypeWithIds(dt: DataType, freshId: () => Int): String = dt match {
    case st: StructType =>
      val defs = st.fields.toList.map { f =>
        val id = if (f.metadata.contains(FieldIdKey))
          f.metadata.getLong(FieldIdKey).toInt else freshId()
        FieldDef(id, f.name, formatTypeWithIds(f.dataType, freshId),
          required = !f.nullable)
      }
      StructIdPrefix + org.json4s.jackson.Serialization.write(defs) + "}"
    case ArrayType(e, _) => s"list<${formatTypeWithIds(e, freshId)}>"
    case other => formatType(other)
  }

  /** [[formatTypeWithIds]] reconciled against an OLD type string: nested
    * struct fields that still exist (by name, recursively) keep their
    * old ids, only genuinely new fields get fresh ones. A type-level
    * nested evolution (ALTER COLUMN info TYPE STRUCT<...>) must never
    * re-mint surviving ids — that would sever id resolution to every
    * already-written file. */
  def formatTypeReconciled(newDt: DataType, oldType: String,
                           freshId: () => Int): String = newDt match {
    case st: StructType if isIdStruct(oldType) =>
      val byName = structFields(oldType).map(f => f.name -> f).toMap
      formatStruct(st.fields.toList.map { f =>
        byName.get(f.name) match {
          case Some(old) => FieldDef(old.id, f.name,
            formatTypeReconciled(f.dataType, old.`type`, freshId),
            required = !f.nullable)
          case None => FieldDef(freshId(), f.name,
            formatTypeWithIds(f.dataType, freshId), required = !f.nullable)
        }
      })
    case ArrayType(e, _) if oldType.startsWith("list<") =>
      s"list<${formatTypeReconciled(e,
        oldType.stripPrefix("list<").stripSuffix(">"), freshId)}>"
    case other => formatTypeWithIds(other, freshId)
  }

  /** Iceberg-spec schema-evolution guard (spec "Schema Evolution"; the
    * reference's commit machinery validates the same set —
    * `/root/reference/api/handlers/tables.go:192` delegates to
    * iceberg-go's CommitTable): a column's type may only change by a
    * LOSSLESS promotion that files already written can still serve —
    * `int → long`, `float → double`, `decimal(P,S) → decimal(P'≥P, S)`.
    * Anything else (narrowing, scale change, cross-family) would make
    * old files unreadable or silently corrupt, so it refuses at commit
    * time, before any metadata is written. Struct-typed updates
    * recurse: surviving nested fields must themselves promote;
    * added/dropped nested fields are ordinary nested evolution. */
  def requirePromotion(oldType: String, newDt: DataType, path: String): Unit = {
    val DecRe = "decimal\\((\\d+),(\\d+)\\)".r
    def refuse(o: String, n: String, at: String): Nothing =
      throw new IllegalArgumentException(
        s"cannot change column $at from $o to $n — only lossless " +
          "promotions (int->long, float->double, decimal precision " +
          "growth at the same scale) keep already-written files readable")
    def check(o: String, dt: DataType, at: String): Unit = dt match {
      case st: StructType if isIdStruct(o) =>
        val byName = structFields(o).map(f => f.name -> f).toMap
        st.fields.foreach { f =>
          byName.get(f.name).foreach(old =>
            check(old.`type`, f.dataType, s"$at.${f.name}"))
        }
      case ArrayType(e, _) if o.startsWith("list<") =>
        check(o.stripPrefix("list<").stripSuffix(">"), e, s"$at.element")
      case other =>
        val n = formatType(other)
        (o, n) match {
          case (a, b) if a == b => ()
          case ("int", "long") => ()
          case ("float", "double") => ()
          case (DecRe(op, os), DecRe(np, ns))
            if np.toInt >= op.toInt && ns.toInt == os.toInt => ()
          case _ => refuse(o, n, at)
        }
    }
    check(oldType, newDt, path)
  }

  /** `schema` with every `parquet.field.id` metadata entry removed, at
    * every nesting depth — the request shape for reading IMPORTED
    * (id-less) parquet files: Spark's id matching null-fills an
    * id-carrying request against a file without ids (the "fake name"
    * non-match), so imported files must be asked for BY NAME. Sound
    * only under the add_files invariants: no renames in the table's
    * schema history, and renames refused while imported files remain
    * in retained history. */
  def stripFieldIds(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      StructField(f.name, stripIdsIn(f.dataType), f.nullable,
        new MetadataBuilder().withMetadata(f.metadata).remove(FieldIdKey)
          .build())
    })

  private def stripIdsIn(dt: DataType): DataType = dt match {
    case st: StructType => stripFieldIds(st)
    case ArrayType(e, n) => ArrayType(stripIdsIn(e), n)
    case MapType(k, v, n) => MapType(stripIdsIn(k), stripIdsIn(v), n)
    case other => other
  }

  /** Every (field id → name) binding of a schema, at every nesting
    * depth — the rename-history probe: two schemas that disagree on any
    * shared id's name mean a column was renamed between them. */
  def idNames(s: SchemaDef): Map[Int, String] = {
    def walkType(t: String): Map[Int, String] = {
      var inner = t
      while (inner.startsWith("list<"))
        inner = inner.stripPrefix("list<").stripSuffix(">")
      if (inner.startsWith(StructIdPrefix)) walk(structFields(inner))
      else Map.empty
    }
    def walk(fs: List[FieldDef]): Map[Int, String] =
      fs.flatMap(f => walkType(f.`type`) + (f.id -> f.name)).toMap
    walk(s.fields)
  }

  /** The FieldDef list of a `struct{...}` type string. */
  def structFields(t: String): List[FieldDef] =
    org.json4s.jackson.Serialization.read[List[FieldDef]](
      t.stripPrefix(StructIdPrefix).dropRight(1))

  def isIdStruct(t: String): Boolean = t.startsWith(StructIdPrefix)

  def formatStruct(fields: List[FieldDef]): String =
    StructIdPrefix + org.json4s.jackson.Serialization.write(fields) + "}"

  /** Highest field id anywhere in the tree (nested struct ids included —
    * the id counter must never reuse one after a nested add). */
  def maxFieldId(fields: List[FieldDef]): Int =
    fields.map { f =>
      math.max(f.id, maxFieldIdInType(f.`type`))
    }.maxOption.getOrElse(0)

  private def maxFieldIdInType(t: String): Int =
    if (isIdStruct(t)) maxFieldId(structFields(t))
    else if (t.startsWith("list<"))
      maxFieldIdInType(t.stripPrefix("list<").stripSuffix(">"))
    else 0

  /** Rewrite the field list at `path`'s parent: descend struct types by
    * name, apply `edit` to the list holding the LAST path element, and
    * re-serialize on the way out. Fails on a path through a non-struct. */
  def editFieldsAt(fields: List[FieldDef], parentPath: Seq[String])(
      edit: List[FieldDef] => List[FieldDef]): List[FieldDef] =
    parentPath.toList match {
      case Nil => edit(fields)
      case head :: rest =>
        val target = fields.find(_.name == head).getOrElse(
          throw new IllegalArgumentException(s"no such column: $head"))
        require(isIdStruct(target.`type`),
          s"column $head is not a struct (nested change unsupported on " +
            s"${target.`type`})")
        val inner = editFieldsAt(structFields(target.`type`), rest)(edit)
        fields.map(f =>
          if (f.name == head) f.copy(`type` = formatStruct(inner)) else f)
    }
}
