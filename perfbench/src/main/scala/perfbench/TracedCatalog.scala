package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.GraftCatalog
import graft.commit.{MetadataUpdate, Requirement}
import graft.meta.{MetaStore, TableMetadata}

/** Which client operation the current server thread is serving. The REST
  * server calls the catalog synchronously on its handler thread, so a
  * thread-local set around a catalog call tags every store call beneath
  * it. The one store call the catalog does not wrap is the load that
  * renders a commit's response: it follows the commit on the same thread,
  * so a successful commit leaves a one-shot mark that the next load takes. */
private object OpKind {
  val current = new ThreadLocal[String] { override def initialValue() = "" }
  val afterCommit = new ThreadLocal[Boolean] { override def initialValue() = false }

  def within[T](kind: String)(body: => T): T = {
    val prev = current.get()
    current.set(kind)
    try body finally current.set(prev)
  }

  /** The kind of a store call made outside any wrapped catalog call. */
  def orElse(default: String): String = {
    val k = current.get()
    if (k.nonEmpty) k
    else if (afterCommit.get()) { afterCommit.set(false); "commit" }
    else default
  }
}

/** Span-recording decorator over the program's metadata store. Every
  * method delegates unchanged; the ones on the request path are timed.
  * `commitOps` is inherited from [[MetaStore]], so a commit runs the
  * program's own `Committer` over this decorator and each attempt's
  * load and CAS show up as spans. */
final class TracedStore(inner: MetaStore, tr: Tracer) extends MetaStore {
  private val scans = new AtomicLong(0)

  /** Every 8th version scan also lists the table's metadata directory,
    * outside the timed span, to measure how many entries a scan walks. */
  private def sampleDir(ns: Seq[String], t: String): Unit =
    if (scans.incrementAndGet() % 8 == 0) {
      val dir = Paths.get(inner.metadataLocation(ns, t, 1)).getParent
      val n = try { val s = Files.list(dir); try s.count() finally s.close() }
        catch { case _: java.io.IOException => -1L }
      val now = System.nanoTime()
      if (n >= 0) tr.record("meta.dir_sample", now, now, OpKind.orElse("read"), n)
    }

  def warehouse: String = inner.warehouse

  def load(ns: Seq[String], t: String): (TableMetadata, Int) = {
    val kind = OpKind.orElse("read")
    sampleDir(ns, t)
    tr.span("meta.load", kind)(inner.load(ns, t))
  }

  def commit(ns: Seq[String], t: String, expectedVersion: Int,
             next: TableMetadata): Boolean = {
    var won = false
    tr.span("meta.cas", OpKind.orElse("commit"), if (won) 1L else 0L) {
      won = inner.commit(ns, t, expectedVersion, next)
    }
    if (won) {
      val now = System.nanoTime()
      val bytes = try Files.size(Paths.get(
        inner.metadataLocation(ns, t, expectedVersion + 1)))
        catch { case _: java.io.IOException => -1L }
      tr.record("meta.version_doc", now, now, "commit", bytes)
    }
    won
  }

  def tableExists(ns: Seq[String], t: String): Boolean = {
    val kind = OpKind.orElse("head")
    sampleDir(ns, t)
    tr.span("meta.exists", kind)(inner.tableExists(ns, t))
  }

  def currentVersion(ns: Seq[String], t: String): Int = {
    val kind = OpKind.orElse("read")
    sampleDir(ns, t)
    tr.span("meta.version", kind)(inner.currentVersion(ns, t))
  }

  def loadVersion(ns: Seq[String], t: String, v: Int): TableMetadata =
    inner.loadVersion(ns, t, v)

  def namespaceExists(ns: Seq[String]): Boolean = inner.namespaceExists(ns)
  def createNamespace(ns: Seq[String], props: Map[String, String]): Unit =
    inner.createNamespace(ns, props)
  def loadNamespace(ns: Seq[String]): Map[String, String] = inner.loadNamespace(ns)
  def setNamespaceProperties(ns: Seq[String], props: Map[String, String]): Unit =
    inner.setNamespaceProperties(ns, props)
  def listNamespaces(parent: Seq[String]): Seq[Seq[String]] = inner.listNamespaces(parent)
  def dropNamespace(ns: Seq[String]): Boolean = inner.dropNamespace(ns)
  def listTables(ns: Seq[String]): Seq[String] = inner.listTables(ns)
  def metadataLocation(ns: Seq[String], t: String, version: Int): String =
    inner.metadataLocation(ns, t, version)
  def createTable(ns: Seq[String], t: String, m: TableMetadata): Unit =
    inner.createTable(ns, t, m)
  def dropTable(ns: Seq[String], t: String): Boolean = inner.dropTable(ns, t)
  def renameTable(fromNs: Seq[String], from: String,
                  toNs: Seq[String], to: String): Unit =
    inner.renameTable(fromNs, from, toNs, to)
  def dataDir(ns: Seq[String], t: String): String = inner.dataDir(ns, t)
  def ensureRoot(): Unit = inner.ensureRoot()
  def listParquetUnder(absDir: String): List[String] = inner.listParquetUnder(absDir)
  def deleteTree(absDir: String): Unit = inner.deleteTree(absDir)
  def deleteFileIfExists(abs: String): Boolean = inner.deleteFileIfExists(abs)
  def lastModifiedMs(abs: String): Option[Long] = inner.lastModifiedMs(abs)
  def fileSizeBytes(abs: String): Option[Long] = inner.fileSizeBytes(abs)
  override def importFile(srcAbs: String, destAbs: String): Unit =
    inner.importFile(srcAbs, destAbs)
  override def pruneSnapshotBodies(ns: Seq[String], t: String,
                                   live: Set[String], graceMs: Long): Int =
    inner.pruneSnapshotBodies(ns, t, live, graceMs)
}

/** The program's catalog with the traced store handed to the REST
  * server: `metadataStore` returns the decorator, `commit` runs the
  * program's `Committer` over it, and listing is timed at the catalog
  * boundary. Everything else is the parent class unchanged. */
final class TracedCatalog(tr: Tracer) extends GraftCatalog {
  private var traced: TracedStore = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    super.initialize(name, options)
    traced = new TracedStore(super.metadataStore, tr)
  }

  override def metadataStore: MetaStore = traced

  override def commit(ident: Identifier, requirements: Seq[Requirement],
                      updates: Seq[MetadataUpdate]): TableMetadata = {
    val m = OpKind.within("commit") {
      tr.span("commit.commit", "commit") {
        traced.commitOps(ident.namespace.toSeq, ident.name, requirements, updates)
      }
    }
    OpKind.afterCommit.set(true)
    m
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    OpKind.within("list") {
      tr.span("catalog.list", "list")(super.listTables(namespace))
    }
}
