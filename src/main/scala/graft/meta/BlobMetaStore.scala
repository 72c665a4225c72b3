package graft.meta

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.Identifier
import org.json4s._
import org.json4s.jackson.Serialization

/** The one storage primitive the metadata protocol runs on: an atomic
  * create-if-absent keyed blob write — what object stores expose as
  * conditional PUT (`If-None-Match: *` on S3/GCS/ABS), what a POSIX file
  * system gives through link(2), and what HDFS gives through a rename
  * that refuses an existing destination. Around it sit the plain reads,
  * listings and deletes that namespaces, table directories and physical
  * data files need.
  *
  * Keys are locations in the backend's own address space (a file-system
  * path, a Hadoop path string, an object key), built from [[root]] with
  * [[resolve]]; the physical-file members take the absolute locations the
  * catalog hands to [[MetaStore]]. Three adapters: [[PosixBlobStore]],
  * [[HadoopBlobStore]] and [[InMemoryBlobStore]].
  */
trait CasBlobStore {
  /** The warehouse root every protocol key resolves under. */
  def root: String
  /** The key of `name` inside directory `dir`. */
  def resolve(dir: String, name: String): String = s"$dir/$name"
  /** Atomically create `key` iff absent, with its full content — never
    * observable partially written. False = key already existed. */
  def putIfAbsent(key: String, content: Array[Byte]): Boolean
  /** Replace `key`'s content, atomically where the backend can. */
  def put(key: String, content: Array[Byte]): Unit
  /** The content at `key`; None when absent. */
  def get(key: String): Option[Array[Byte]]
  /** Cheap existence probe (object stores: HEAD, not GET); on a file
    * system a directory counts. */
  def contains(key: String): Boolean
  /** Names of `dir`'s direct children; empty when `dir` is absent. */
  def list(dir: String): Seq[String]
  /** Delete one blob (or empty directory); false when absent. */
  def delete(key: String): Boolean
  /** Delete everything under `dir`, and `dir` itself; no-op when absent. */
  def deleteTree(dir: String): Unit
  /** Move a directory tree to a new, absent location. */
  def move(from: String, to: String): Unit
  /** Create a directory and its parents; object stores have none. */
  def mkdirs(dir: String): Unit = ()
  /** Last-modified epoch millis; None when absent or unknown. */
  def modifiedMs(key: String): Option[Long]
  /** Length in bytes; None when absent. */
  def size(key: String): Option[Long]
  /** `.parquet` files anywhere under `dir`, relative to it; empty when
    * `dir` is absent. */
  def listParquet(dir: String): List[String]
  /** Make the bytes at `src` available at the absent location `dst`
    * without rewriting them where the backend can (see
    * [[MetaStore.importFile]]). */
  def importFile(src: String, dst: String): Unit
}

/** The [[MetaStore]] protocol, written once over a [[CasBlobStore]] —
  * the role SQLite + iceberg-go's FileIO play for the reference
  * (`reference/configs/.iceberg-go.yaml:2-10`; commit protocol at
  * `reference/api/handlers/tables.go:192`).
  *
  * Layout under the warehouse root:
  * {{{
  *   <wh>/<ns...>/.namespace.json              namespace marker + props
  *   <wh>/<ns...>/<table>/metadata/v<N>.metadata.json
  *   <wh>/<ns...>/<table>/metadata/snap-<id>-<hash>.body.json
  *   <wh>/<ns...>/<table>/data/...             parquet files
  * }}}
  *
  * Concurrency: version documents and namespace markers are immutable
  * once created and created with [[CasBlobStore.putIfAbsent]] — two
  * drivers racing to commit version N+1 (or to create v1, or the same
  * namespace) cannot both win, because exactly one create-if-absent
  * succeeds. That single primitive is the whole CAS; readers list
  * versions and take the max.
  *
  * Version cache: a load lists `metadata/` and reads the slim version
  * document (a few KB) every time, but parses and inflates it only when
  * the process-wide cache holds no metadata inflated from exactly those
  * bytes under that key. Comparing bytes, not trusting the path, means a
  * table dropped and recreated by another process never serves stale
  * metadata. A won commit caches the version it wrote, inflated from the
  * bodies [[SnapshotBodies.persist]] just cached, so the load after a
  * commit parses nothing heavy; drop and rename evict the table's
  * entries. Repeated loads of an unchanged version return the same
  * instance, which lets the REST server reuse the response it rendered
  * for it. Bounds: 128 versions in access order; each pins its snapshot
  * bodies, besides [[SnapshotBodies]]' own 512-body LRU.
  */
class BlobMetaStore(blobs: CasBlobStore) extends MetaStore {

  private implicit val formats: Formats = Serialization.formats(NoTypeHints)
  private val NsMarker = ".namespace.json"
  private val VersionRe = "v(\\d+)\\.metadata\\.json".r

  def warehouse: String = blobs.root

  private def nsDir(ns: Seq[String]): String = ns.foldLeft(blobs.root)(blobs.resolve)
  private def tableDir(ns: Seq[String], t: String): String = nsDir(ns :+ t)
  private def metaDir(ns: Seq[String], t: String): String =
    blobs.resolve(tableDir(ns, t), "metadata")
  private def marker(ns: Seq[String]): String = blobs.resolve(nsDir(ns), NsMarker)
  private def text(key: String): Option[String] = blobs.get(key).map(new String(_, UTF_8))

  // ---- namespaces -------------------------------------------------------

  def namespaceExists(ns: Seq[String]): Boolean =
    ns.nonEmpty && blobs.contains(marker(ns))

  /** The marker's create-if-absent is the existence check: of two racing
    * creates exactly one lands its properties, the other gets "exists". */
  def createNamespace(ns: Seq[String], props: Map[String, String]): Unit = {
    require(ns.nonEmpty && ns.forall(_.nonEmpty), s"invalid namespace ${ns.mkString(".")}")
    blobs.mkdirs(nsDir(ns))
    if (!blobs.putIfAbsent(marker(ns), Serialization.write(props).getBytes(UTF_8)))
      throw new IllegalStateException(s"namespace exists: ${ns.mkString(".")}")
  }

  def loadNamespace(ns: Seq[String]): Map[String, String] =
    Serialization.read[Map[String, String]](
      text(marker(ns)).getOrElse(throw noSuchNamespace(ns)))

  def setNamespaceProperties(ns: Seq[String], props: Map[String, String]): Unit = {
    if (!namespaceExists(ns)) throw noSuchNamespace(ns)
    blobs.put(marker(ns), Serialization.write(props).getBytes(UTF_8))
  }

  def listNamespaces(parent: Seq[String]): Seq[Seq[String]] = {
    if (parent.nonEmpty && !namespaceExists(parent)) throw noSuchNamespace(parent)
    blobs.list(nsDir(parent)).map(parent :+ _).filter(namespaceExists)
      .sortBy(_.mkString(""))
  }

  /** Non-cascading drop; refuses when tables or child namespaces remain
    * (reference: NamespaceNotEmptyException 409, `namespaces.go:131-136`).
    * Once the emptiness check passes, anything left under the directory
    * is residue from metadata-only table drops (data files with no
    * metadata dir) — removed recursively, so DROP NAMESPACE succeeds. */
  def dropNamespace(ns: Seq[String]): Boolean = {
    if (!namespaceExists(ns)) return false
    if (listTables(ns).nonEmpty || listNamespaces(ns).nonEmpty)
      throw new IllegalStateException(s"namespace not empty: ${ns.mkString(".")}")
    blobs.deleteTree(nsDir(ns))
    true
  }

  // ---- tables -----------------------------------------------------------

  def tableExists(ns: Seq[String], t: String): Boolean = currentVersion(ns, t) > 0

  def listTables(ns: Seq[String]): Seq[String] = {
    if (!namespaceExists(ns)) throw noSuchNamespace(ns)
    blobs.list(nsDir(ns)).filter(n => blobs.contains(metaDir(ns, n))).sorted
  }

  /** One non-recursive listing of `metadata/`; temp names never match. */
  def currentVersion(ns: Seq[String], t: String): Int =
    blobs.list(metaDir(ns, t)).collect { case VersionRe(v) => v.toInt }
      .maxOption.getOrElse(0)

  def metadataLocation(ns: Seq[String], t: String, version: Int): String =
    blobs.resolve(metaDir(ns, t), s"v$version.metadata.json")

  def load(ns: Seq[String], t: String): (TableMetadata, Int) = {
    val v = currentVersion(ns, t)
    if (v == 0) throw noSuchTable(ns, t)
    (loadVersion(ns, t, v), v)
  }

  /** Reads the slim document every time; returns the cached instance
    * only when the bytes are the ones it was inflated from. */
  def loadVersion(ns: Seq[String], t: String, v: Int): TableMetadata = {
    val key = metadataLocation(ns, t, v)
    val bytes = blobs.get(key).getOrElse(throw noSuchTable(ns, t))
    BlobMetaStore.cached(key, bytes).getOrElse(inflate(metaDir(ns, t), key, bytes))
  }

  /** Parse a slim document, inflate its snapshot bodies and cache the
    * result under its key. */
  private def inflate(md: String, key: String, bytes: Array[Byte]): TableMetadata = {
    val m = SnapshotBodies.inflate(md, TableMetadata.fromJson(new String(bytes, UTF_8)),
      name => text(blobs.resolve(md, name))
        .getOrElse(throw new java.io.FileNotFoundException(blobs.resolve(md, name))))
    BlobMetaStore.cache(key, bytes, m)
    m
  }

  /** Create v1. The pre-check catches a table whose v1 expiry already
    * removed; under races the v1 create-if-absent is the guard, and its
    * loser gets the same "exists" as the pre-check. */
  def createTable(ns: Seq[String], t: String, m: TableMetadata): Unit = {
    if (!namespaceExists(ns)) throw noSuchNamespace(ns)
    if (tableExists(ns, t)) throw tableExistsError(ns, t)
    blobs.mkdirs(metaDir(ns, t))
    blobs.mkdirs(dataDir(ns, t))
    if (!commit(ns, t, 0, m)) throw tableExistsError(ns, t)
  }

  /** CAS commit: persist `next` as version `expectedVersion + 1`; false
    * when another committer won that version. Snapshot bodies (see
    * [[SnapshotBodies]]) land — and reused references re-verify — before
    * the version create; a body-write race is a no-op, since names are
    * content-addressed. */
  def commit(ns: Seq[String], t: String, expectedVersion: Int,
             next: TableMetadata): Boolean = {
    val md = metaDir(ns, t)
    val slim = SnapshotBodies.persist(blobs, md, next)
    val key = metadataLocation(ns, t, expectedVersion + 1)
    val bytes = TableMetadata.toJson(slim).getBytes(UTF_8)
    val won = blobs.putIfAbsent(key, bytes)
    if (won) {
      // heal bodies an expiry pruned while this committer stalled past the
      // grace window — the CAS won, so the content must be present
      SnapshotBodies.ensure(blobs, md, slim)
      // the bodies persist just cached make this inflate cheap, and the
      // load after the commit a hit
      inflate(md, key, bytes)
    }
    won
  }

  def dropTable(ns: Seq[String], t: String): Boolean = {
    if (!tableExists(ns, t)) return false
    // metadata-only drop, like the reference (purge → 501, tables.go:288-295)
    SnapshotBodies.invalidateScope(metaDir(ns, t))
    BlobMetaStore.evictUnder(metaDir(ns, t))
    blobs.deleteTree(metaDir(ns, t))
    Seq(dataDir(ns, t), tableDir(ns, t)).foreach { d =>
      if (blobs.list(d).isEmpty) blobs.delete(d)
    }
    true
  }

  def renameTable(fromNs: Seq[String], from: String,
                  toNs: Seq[String], to: String): Unit = {
    if (!tableExists(fromNs, from)) throw noSuchTable(fromNs, from)
    if (!namespaceExists(toNs)) throw noSuchNamespace(toNs)
    if (tableExists(toNs, to)) throw tableExistsError(toNs, to)
    SnapshotBodies.invalidateScope(metaDir(fromNs, from))
    BlobMetaStore.evictUnder(metaDir(fromNs, from))
    blobs.move(tableDir(fromNs, from), tableDir(toNs, to))
  }

  def dataDir(ns: Seq[String], t: String): String = blobs.resolve(tableDir(ns, t), "data")

  /** Bodies with no age the backend can report are never deleted: the
    * grace window is the only protection for bodies staged by in-flight
    * commits. */
  override def pruneSnapshotBodies(ns: Seq[String], t: String,
                                   live: Set[String], graceMs: Long): Int = {
    val md = metaDir(ns, t)
    val cutoff = System.currentTimeMillis() - graceMs
    blobs.list(md).count { name =>
      val key = blobs.resolve(md, name)
      name.endsWith(".body.json") && !live.contains(name) &&
        blobs.modifiedMs(key).exists(_ <= cutoff) && blobs.delete(key)
    }
  }

  // ---- physical files ---------------------------------------------------

  def ensureRoot(): Unit = blobs.mkdirs(blobs.root)
  def listParquetUnder(absDir: String): List[String] = blobs.listParquet(absDir)
  def deleteTree(absDir: String): Unit = blobs.deleteTree(absDir)
  def deleteFileIfExists(abs: String): Boolean = blobs.delete(abs)
  def lastModifiedMs(abs: String): Option[Long] = blobs.modifiedMs(abs)
  def fileSizeBytes(abs: String): Option[Long] = blobs.size(abs)
  override def importFile(srcAbs: String, destAbs: String): Unit =
    blobs.importFile(srcAbs, destAbs)

  private def noSuchNamespace(ns: Seq[String]) = new NoSuchNamespaceException(ns.toArray)
  private def noSuchTable(ns: Seq[String], t: String) =
    new NoSuchTableException(Identifier.of(ns.toArray, t))
  private def tableExistsError(ns: Seq[String], t: String) =
    new IllegalStateException(s"table exists: ${(ns :+ t).mkString(".")}")
}

object BlobMetaStore {
  private final class Version(val bytes: Array[Byte], val meta: TableMetadata)

  // version-document key → its bytes and the metadata inflated from them,
  // process-wide like the body cache (stores over one warehouse share
  // entries), in access order. An entry pins its snapshot bodies, so the
  // bound is small: about one current version per table in use.
  private val Bound = 128
  private val versions = new java.util.LinkedHashMap[String, Version](Bound, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Version]): Boolean =
      size > Bound
  }

  /** The metadata cached for `key`, if it was inflated from exactly
    * `bytes`: a version document rewritten in place (a table dropped and
    * recreated by another process) never hits a stale entry. */
  private def cached(key: String, bytes: Array[Byte]): Option[TableMetadata] =
    versions.synchronized(Option(versions.get(key)))
      .filter(v => java.util.Arrays.equals(v.bytes, bytes)).map(_.meta)

  private def cache(key: String, bytes: Array[Byte], m: TableMetadata): Unit =
    versions.synchronized(versions.put(key, new Version(bytes, m)))

  /** Forget every version under the metadata directory `dir`. */
  private def evictUnder(dir: String): Unit =
    versions.synchronized(versions.keySet.removeIf(_.startsWith(s"$dir/")))
}
