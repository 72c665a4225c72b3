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
  * a field added to a case class but not here fails it. */
object MetaJson {

  /** json4s's own factory: its generators escape exactly as json4s does. */
  def factory: JsonFactory = org.json4s.jackson.JsonMethods.mapper.getFactory

  /** Version-document text, indented like json4s `writePretty`. */
  def pretty(m: TableMetadata): String = render(pretty = true)(writeTable(_, m))

  /** Snapshot-body document text (compact; its hash names the body). */
  def body(b: SnapshotBodies.Body): String = render(pretty = false)(writeBody(_, b))

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
    g.writeStartObject()
    g.writeNumberField("snapshotId", s.snapshotId)
    g.writeNumberField("timestampMs", s.timestampMs)
    g.writeStringField("operation", s.operation)
    files(g, s.files)
    g.writeFieldName("summary")
    strings(g, s.summary)
    payload(g, s.fileStats, s.deleteFiles, s.fileSeqs)
    s.parentId.foreach(g.writeNumberField("parentId", _))
    s.bodyRef.foreach(g.writeStringField("bodyRef", _))
    g.writeEndObject()
  }

  private def writeBody(g: JsonGenerator, b: SnapshotBodies.Body): Unit = {
    g.writeStartObject()
    files(g, b.files)
    payload(g, b.fileStats, b.deleteFiles, b.fileSeqs)
    g.writeEndObject()
  }

  private def files(g: JsonGenerator, fs: List[String]): Unit = {
    g.writeFieldName("files")
    array(g, fs)(g.writeString)
  }

  /** The fields after `files` (and a snapshot's `summary`) that a
    * snapshot and its body share, in their common order. */
  private def payload(g: JsonGenerator, fileStats: Map[String, List[ColStatDef]],
                      deleteFiles: List[DeleteFileDef],
                      fileSeqs: Map[String, Long]): Unit = {
    g.writeFieldName("fileStats")
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
    g.writeFieldName("deleteFiles")
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
    g.writeFieldName("fileSeqs")
    obj(g, fileSeqs)(g.writeNumber(_: Long))
  }

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
