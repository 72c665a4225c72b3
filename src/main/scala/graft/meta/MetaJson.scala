package graft.meta

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}
import com.fasterxml.jackson.core.io.SegmentedStringWriter
import com.fasterxml.jackson.core.util.{BufferRecycler, DefaultPrettyPrinter}

/** The one writer of table-metadata JSON: version documents, snapshot
  * bodies and the REST responses that embed a document all go through
  * these generator calls, in a single pass with no reflection and no
  * intermediate AST.
  *
  * The output is byte-identical to json4s `Serialization.write` /
  * `writePretty` of the same case classes: fields in constructor
  * order, `None` options omitted, maps in their iteration order, and
  * the generators come from json4s's own Jackson factory, so string
  * escaping and the pretty layout match too.
  * Identical bytes keep on-disk documents, wire bodies and the
  * content-hash body names stable. `MetaJsonPropertySpec` pins this:
  * a field added to a case class but not here fails it.
  *
  * Snapshot payloads are rendered once per process: a snapshot's four
  * payload values (`files`, `fileStats`, `deleteFiles`, `fileSeqs`) are
  * kept as compact JSON [[Fragments]] under its `bodyRef`, and compact
  * output splices them in with `writeRawValue`. The generator copies a
  * fragment's characters unchanged into the same writer a fresh render
  * would have filled, so escaping and the writer's encoding give the
  * same bytes. A version's compact render then costs its headers, not
  * its history; pretty output (slim version documents) always renders
  * in place. */
object MetaJson {

  /** json4s's own factory: its generators escape exactly as json4s does. */
  def factory: JsonFactory = org.json4s.jackson.JsonMethods.mapper.getFactory

  /** Version-document text, indented like json4s `writePretty`. */
  def pretty(m: TableMetadata): String = render(pretty = true)(writeTable(_, m))

  /** Snapshot-body document text (compact; its hash names the body). */
  def body(b: SnapshotBodies.Body): String = body(fragments(b))

  /** The body document spliced from its payload's fragments: the
    * compact layout, whose field names need no escaping. */
  private[meta] def body(f: Fragments): String =
    new java.lang.StringBuilder(f.chars.toInt + 48)
      .append("{\"files\":").append(f.files)
      .append(",\"fileStats\":").append(f.fileStats)
      .append(",\"deleteFiles\":").append(f.deleteFiles)
      .append(",\"fileSeqs\":").append(f.fileSeqs).append('}').toString

  /** A snapshot payload's four values as compact JSON, with the
    * instances they were rendered from. */
  private[meta] final class Fragments(val src: SnapshotBodies.Body, val files: String,
                        val fileStats: String, val deleteFiles: String,
                        val fileSeqs: String) {
    def chars: Long =
      files.length.toLong + fileStats.length + deleteFiles.length + fileSeqs.length

    /** Whether `s`'s payload renders as these fragments: the very
      * instances they came from, or else equal ones in the same
      * iteration order (a map renders in its iteration order, which
      * map equality ignores). */
    def renders(s: SnapshotDef): Boolean = {
      def list[A](a: List[A], b: List[A]) = (a eq b) || a == b
      def map[V](a: Map[String, V], b: Map[String, V]) =
        (a eq b) || (a.size == b.size && a.iterator.sameElements(b.iterator))
      list(src.files, s.files) && map(src.fileStats, s.fileStats) &&
        list(src.deleteFiles, s.deleteFiles) && map(src.fileSeqs, s.fileSeqs)
    }

    /** Whether `s`'s payload is the very instances these came from. */
    def sameSource(s: SnapshotDef): Boolean =
      (src.files eq s.files) && (src.fileStats eq s.fileStats) &&
        (src.deleteFiles eq s.deleteFiles) && (src.fileSeqs eq s.fileSeqs)

    /** The same fragments with `b`, an equal payload, as their source. */
    def withSource(b: SnapshotBodies.Body): Fragments =
      new Fragments(b, files, fileStats, deleteFiles, fileSeqs)
  }

  /** Render `b`'s payload values, one compact pass each. */
  private[meta] def fragments(b: SnapshotBodies.Body): Fragments = {
    def value(write: JsonGenerator => Unit) = render(pretty = false)(write)
    new Fragments(b, value(g => array(g, b.files)(g.writeString)),
      value(writeFileStats(_, b.fileStats)), value(writeDeleteFiles(_, b.deleteFiles)),
      value(writeFileSeqs(_, b.fileSeqs)))
  }

  // bodyRef → the fragments last rendered under that name, in access
  // order, at most FragmentChars characters in all. Entries are keyed by
  // name alone: a hit also needs `renders`, so a stale or reused name
  // (another table's body of the same name, a snapshot whose payload
  // changed under its old ref) is rendered fresh and replaces the entry.
  private[meta] val FragmentChars = 32L << 20
  private val kept = new graft.Lru[String, Fragments](FragmentChars, _.chars)

  /** The fragments kept under `name`, if any. */
  private[meta] def keptFragments(name: String): Option[Fragments] = kept.get(name)

  /** Keep `f` under the body name `name`, evicting the least recently
    * used fragments past the bound. */
  private[meta] def keep(name: String, f: Fragments): Unit = kept.put(name, f)

  /** The fragments of snapshot `s` with body name `name`: the kept ones
    * when they render `s`, else rendered now and kept. Kept fragments
    * that render `s` only by equality (its payload was parsed again
    * after the body cache let it go) are kept again with `s`'s own
    * instances as their source, so later renders of `s` match by
    * identity instead of comparing element by element. */
  private def fragments(name: String, s: SnapshotDef): Fragments =
    keptFragments(name) match {
      case Some(k) if k.sameSource(s) => k
      case held =>
        val b = SnapshotBodies.Body(s.files, s.fileStats, s.deleteFiles, s.fileSeqs)
        val f = held.filter(_.renders(s)).fold(fragments(b))(_.withSource(b))
        keep(name, f)
        f
    }

  private def render(pretty: Boolean)(write: JsonGenerator => Unit): String = {
    val out = new SegmentedStringWriter(new BufferRecycler)
    val g = factory.createGenerator(out)
    if (pretty) g.setPrettyPrinter(new DefaultPrettyPrinter)
    try write(g) finally g.close()
    out.getAndClear()
  }

  /** `m` as one JSON object, laid out by `g`'s pretty printer if any. */
  def writeTable(g: JsonGenerator, m: TableMetadata): Unit = {
    g.writeStartObject()
    g.writeNumberField("formatVersion", m.formatVersion)
    g.writeStringField("tableUuid", m.tableUuid)
    g.writeStringField("location", m.location)
    g.writeNumberField("lastColumnId", m.lastColumnId)
    g.writeNumberField("currentSchemaId", m.currentSchemaId)
    g.writeFieldName("schemas")
    array(g, m.schemas) { s =>
      g.writeStartObject()
      g.writeNumberField("schemaId", s.schemaId)
      g.writeFieldName("fields")
      array(g, s.fields) { f =>
        g.writeStartObject()
        g.writeNumberField("id", f.id)
        g.writeStringField("name", f.name)
        g.writeStringField("type", f.`type`)
        g.writeBooleanField("required", f.required)
        g.writeEndObject()
      }
      g.writeEndObject()
    }
    g.writeNumberField("defaultSpecId", m.defaultSpecId)
    g.writeFieldName("specs")
    array(g, m.specs) { s =>
      g.writeStartObject()
      g.writeNumberField("specId", s.specId)
      g.writeFieldName("fields")
      array(g, s.fields) { f =>
        g.writeStartObject()
        g.writeNumberField("sourceId", f.sourceId)
        g.writeStringField("transform", f.transform)
        g.writeStringField("name", f.name)
        g.writeEndObject()
      }
      g.writeEndObject()
    }
    g.writeNumberField("defaultSortOrderId", m.defaultSortOrderId)
    g.writeFieldName("sortOrders")
    array(g, m.sortOrders) { o =>
      g.writeStartObject()
      g.writeNumberField("orderId", o.orderId)
      g.writeFieldName("fields")
      array(g, o.fields) { f =>
        g.writeStartObject()
        g.writeNumberField("sourceId", f.sourceId)
        g.writeStringField("direction", f.direction)
        g.writeStringField("nullOrder", f.nullOrder)
        g.writeEndObject()
      }
      g.writeEndObject()
    }
    g.writeFieldName("properties")
    strings(g, m.properties)
    m.currentSnapshotId.foreach(g.writeNumberField("currentSnapshotId", _))
    g.writeFieldName("snapshots")
    array(g, m.snapshots)(writeSnapshot(g, _))
    g.writeNumberField("lastSequenceNumber", m.lastSequenceNumber)
    g.writeFieldName("refs")
    obj(g, m.refs) { r =>
      g.writeStartObject()
      g.writeNumberField("snapshotId", r.snapshotId)
      g.writeStringField("refType", r.refType)
      g.writeEndObject()
    }
    g.writeEndObject()
  }

  private def writeSnapshot(g: JsonGenerator, s: SnapshotDef): Unit = {
    val spliced =
      if (g.getPrettyPrinter == null) s.bodyRef.map(fragments(_, s)) else None
    g.writeStartObject()
    g.writeNumberField("snapshotId", s.snapshotId)
    g.writeNumberField("timestampMs", s.timestampMs)
    g.writeStringField("operation", s.operation)
    g.writeFieldName("files")
    spliced match {
      case Some(f) => g.writeRawValue(f.files)
      case None => array(g, s.files)(g.writeString)
    }
    g.writeFieldName("summary")
    strings(g, s.summary)
    spliced match {
      case Some(f) => writePayload(g, f)
      case None =>
        g.writeFieldName("fileStats")
        writeFileStats(g, s.fileStats)
        g.writeFieldName("deleteFiles")
        writeDeleteFiles(g, s.deleteFiles)
        g.writeFieldName("fileSeqs")
        writeFileSeqs(g, s.fileSeqs)
    }
    s.parentId.foreach(g.writeNumberField("parentId", _))
    s.bodyRef.foreach(g.writeStringField("bodyRef", _))
    g.writeEndObject()
  }

  private def raw(g: JsonGenerator, name: String, json: String): Unit = {
    g.writeFieldName(name)
    g.writeRawValue(json)
  }

  /** The fields after `files` (and a snapshot's `summary`) that a
    * snapshot and its body share, in their common order. */
  private def writePayload(g: JsonGenerator, f: Fragments): Unit = {
    raw(g, "fileStats", f.fileStats)
    raw(g, "deleteFiles", f.deleteFiles)
    raw(g, "fileSeqs", f.fileSeqs)
  }

  private def writeFileStats(g: JsonGenerator, fileStats: Map[String, List[ColStatDef]]): Unit =
    obj(g, fileStats) { cols =>
      array(g, cols) { c =>
        g.writeStartObject()
        g.writeStringField("name", c.name)
        g.writeStringField("min", c.min)
        g.writeStringField("max", c.max)
        g.writeNumberField("nulls", c.nulls)
        c.fieldId.foreach(g.writeNumberField("fieldId", _))
        c.rows.foreach(g.writeNumberField("rows", _))
        g.writeEndObject()
      }
    }

  private def writeDeleteFiles(g: JsonGenerator, deleteFiles: List[DeleteFileDef]): Unit =
    array(g, deleteFiles) { d =>
      g.writeStartObject()
      g.writeStringField("path", d.path)
      g.writeNumberField("seq", d.seq)
      g.writeFieldName("keyFieldIds")
      array(g, d.keyFieldIds)(g.writeNumber(_: Int))
      g.writeNumberField("rows", d.rows)
      g.writeNumberField("bytes", d.bytes)
      g.writeEndObject()
    }

  private def writeFileSeqs(g: JsonGenerator, fileSeqs: Map[String, Long]): Unit =
    obj(g, fileSeqs)(g.writeNumber(_: Long))

  private def array[A](g: JsonGenerator, xs: List[A])(each: A => Unit): Unit = {
    g.writeStartArray()
    xs.foreach(each)
    g.writeEndArray()
  }

  /** A map as a JSON object, entries in the map's iteration order. */
  private def obj[V](g: JsonGenerator, kv: Map[String, V])(each: V => Unit): Unit = {
    g.writeStartObject()
    kv.foreach { case (k, v) => g.writeFieldName(k); each(v) }
    g.writeEndObject()
  }

  /** A string map (properties, summaries, config) as a JSON object. */
  def strings(g: JsonGenerator, kv: Map[String, String]): Unit =
    obj(g, kv)(g.writeString(_: String))
}
