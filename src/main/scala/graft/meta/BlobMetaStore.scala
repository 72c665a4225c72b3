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
  * Each namespace level and table name is exactly one directory: `%` and
  * `/` inside a name are written `%25` and `%2F`, and the names `.` and
  * `..` are written `%2E` and `%2E%2E`. No two names share a directory,
  * no name leaves its parent, and a name without those characters is
  * its own directory name.
  *
  * Concurrency: version documents and namespace markers are immutable
  * once created and created with [[CasBlobStore.putIfAbsent]] — two
  * drivers racing to commit version N+1 (or to create v1, or the same
  * namespace) cannot both win, because exactly one create-if-absent
  * succeeds. That single primitive is the whole CAS.
  *
  * Current version: a table's versions form one contiguous range that
  * grows only at the top — a commit creates N+1, and snapshot expiry
  * deletes versions below its cutoff in ascending order and always keeps
  * the newest. So a reader starts from the newest version this process
  * has seen for the table and probes forward (`contains(v+1)`) until a
  * version is absent, then checks that the one it stopped at is still
  * there: an expiry racing the probe cannot delete a version while an
  * older one remains, so a present stop is the newest at the moment the
  * probe missed. It lists `metadata/` only when the process knows no
  * version for the table or the known one is gone (dropped, expired, or
  * the table recreated with fewer versions). A stale hint costs probes or
  * one listing, never a wrong answer. Listings, probes and won commits
  * update the hint; drop and rename evict it.
  *
  * Version cache: a load reads the slim version document (a few KB)
  * every time, but parses and inflates it only when the process-wide
  * cache holds no metadata inflated from exactly those bytes under that
  * key. Comparing bytes, not trusting the path, means a table dropped and
  * recreated by another process never serves stale metadata. A won commit
  * caches the slim document it wrote, inflated from the bodies
  * [[SnapshotBodies.persist]] just cached, without parsing its bytes back
  * (it is what they parse to: `MetaJsonPropertySpec`), so the load after
  * a commit parses nothing; drop and rename evict the table's entries.
  * Repeated loads of an unchanged version return the same instance, which
  * lets the REST server reuse the response it rendered for it. Bounds:
  * 128 versions in access order; each pins its snapshot bodies, besides
  * [[SnapshotBodies]]' own 512-body LRU.
  */
class BlobMetaStore(blobs: CasBlobStore) extends MetaStore {

  private implicit val formats: Formats = Serialization.formats(NoTypeHints)
  private val NsMarker = ".namespace.json"
  private val VersionRe = "v(\\d+)\\.metadata\\.json".r

  def warehouse: String = blobs.root

  private def nsDir(ns: Seq[String]): String =
    ns.foldLeft(blobs.root)((dir, name) => blobs.resolve(dir, BlobMetaStore.segment(name)))
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
    blobs.list(nsDir(parent)).map(n => parent :+ BlobMetaStore.name(n)).filter(namespaceExists)
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
    blobs.list(nsDir(ns)).map(BlobMetaStore.name).filter(t => blobs.contains(metaDir(ns, t))).sorted
  }

  def currentVersion(ns: Seq[String], t: String): Int = newest(metaDir(ns, t))

  /** The newest version in the metadata directory `md`, 0 when there is
    * none: a forward probe from the version this process saw last, or one
    * listing when it saw none or that one is gone (see the class doc). */
  private def newest(md: String): Int = {
    def present(v: Int) = blobs.contains(versionKey(md, v))
    val from = BlobMetaStore.seen(md)
    var v = from
    if (v > 0) {
      while (present(v + 1)) v += 1
      if (!present(v)) v = 0
    }
    // one non-recursive listing; temp names never match
    if (v == 0) v = blobs.list(md).collect { case VersionRe(n) => n.toInt }.maxOption.getOrElse(0)
    if (v > 0 && v != from) BlobMetaStore.see(md, v)
    v
  }

  private def versionKey(md: String, v: Int): String = blobs.resolve(md, s"v$v.metadata.json")

  def metadataLocation(ns: Seq[String], t: String, version: Int): String =
    versionKey(metaDir(ns, t), version)

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
    BlobMetaStore.cached(key, bytes).getOrElse(
      inflate(metaDir(ns, t), key, bytes, TableMetadata.fromJson(new String(bytes, UTF_8))))
  }

  /** Inflate the snapshot bodies of the slim document `slim`, whose
    * bytes are `bytes`, and cache the result under its key. */
  private def inflate(md: String, key: String, bytes: Array[Byte],
                      slim: TableMetadata): TableMetadata = {
    val m = SnapshotBodies.inflate(md, slim,
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
    val key = versionKey(md, expectedVersion + 1)
    val doc = TableMetadata.toJson(slim)
    val bytes = doc.getBytes(UTF_8)
    val won = blobs.putIfAbsent(key, bytes)
    if (won) {
      BlobMetaStore.see(md, expectedVersion + 1)
      // heal bodies an expiry pruned while this committer stalled past the
      // grace window — the CAS won, so the content must be present
      SnapshotBodies.ensure(blobs, md, slim)
      // the bytes parse back to `slim`, unless UTF-8 wrote a lone
      // surrogate in them as '?'; the bodies persist just cached make the
      // inflate cheap, and the load after the commit a hit
      inflate(md, key, bytes,
        if (doc.exists(Character.isSurrogate)) TableMetadata.fromJson(new String(bytes, UTF_8))
        else slim)
    }
    won
  }

  /** Metadata-only, like the reference (purge → 501, tables.go:288-295).
    * Of racing drops, the one that creates the drop claim beside the
    * table's directory drops it. The claim goes only after the table has,
    * so a drop that creates it later finds no table and reports false. */
  def dropTable(ns: Seq[String], t: String): Boolean = {
    // '%' followed by 'd' is in no name's directory, so no table is here
    val claim = blobs.resolve(nsDir(ns), BlobMetaStore.segment(t) + "%drop")
    if (!tableExists(ns, t) || !blobs.putIfAbsent(claim, Array.emptyByteArray)) return false
    try {
      val dropped = tableExists(ns, t)
      if (dropped) {
        BlobMetaStore.evictUnder(metaDir(ns, t))
        blobs.deleteTree(metaDir(ns, t))
        Seq(dataDir(ns, t), tableDir(ns, t)).foreach { d =>
          if (blobs.list(d).isEmpty) blobs.delete(d)
        }
      }
      dropped
    } finally blobs.delete(claim)
  }

  def renameTable(fromNs: Seq[String], from: String,
                  toNs: Seq[String], to: String): Unit = {
    if (!tableExists(fromNs, from)) throw noSuchTable(fromNs, from)
    if (!namespaceExists(toNs)) throw noSuchNamespace(toNs)
    if (tableExists(toNs, to)) throw tableExistsError(toNs, to)
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
  /** The directory name of a namespace level or table name. */
  private def segment(name: String): String = name match {
    case "." => "%2E"
    case ".." => "%2E%2E"
    case _ => name.replace("%", "%25").replace("/", "%2F")
  }

  /** The name a directory stands for; every '%' in a directory `segment`
    * wrote starts one of its three escapes. */
  private def name(segment: String): String =
    segment.replace("%2F", "/").replace("%2E", ".").replace("%25", "%")

  private final class Version(val bytes: Array[Byte], val meta: TableMetadata)

  // version-document key → its bytes and the metadata inflated from them,
  // process-wide like the body cache (stores over one warehouse share
  // entries), in access order. An entry pins its snapshot bodies, so the
  // bound is small: about one current version per table in use.
  private val versions = new graft.Lru[String, Version](bound = 128)

  /** The metadata cached for `key`, if it was inflated from exactly
    * `bytes`: a version document rewritten in place (a table dropped and
    * recreated by another process) never hits a stale entry. */
  private def cached(key: String, bytes: Array[Byte]): Option[TableMetadata] =
    versions.get(key).filter(v => java.util.Arrays.equals(v.bytes, bytes)).map(_.meta)

  private def cache(key: String, bytes: Array[Byte], m: TableMetadata): Unit =
    versions.put(key, new Version(bytes, m))

  // metadata directory → the newest version number this process saw
  // there, where the next probe starts; process-wide and in access order
  // like the version cache. An entry is an int, so the bound is wide: a
  // table that falls out costs one listing.
  private val seenVersions = new graft.Lru[String, Int](bound = 4096)

  /** The newest version seen in metadata directory `dir`; 0 when none. */
  private def seen(dir: String): Int = seenVersions.get(dir).getOrElse(0)

  private def see(dir: String, v: Int): Unit = seenVersions.put(dir, v)

  /** Forget everything cached for metadata directory `dir` (table drop
    * and rename): its snapshot bodies, its versions and its newest
    * version. */
  private def evictUnder(dir: String): Unit = {
    val under = (k: String) => k.startsWith(s"$dir/")
    SnapshotBodies.cache.removeIf(under)
    versions.removeIf(under)
    seenVersions.removeIf(_ == dir)
  }
}
