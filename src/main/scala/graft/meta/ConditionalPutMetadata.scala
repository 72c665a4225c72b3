package graft.meta

import scala.jdk.CollectionConverters._

/** In-memory object store with conditional-PUT semantics — the test
  * double for S3-style backends (putIfAbsent = ConcurrentHashMap
  * putIfAbsent, the same linearizable create-if-absent guarantee). Like
  * an object store it has no directories: a "directory" is the set of
  * keys under its prefix. Each instance has its own root, so body-cache
  * scopes of two stores never collide. */
final class InMemoryBlobStore extends CasBlobStore {
  private val blobs = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
  private val stamps = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  val root: String = s"mem://${java.util.UUID.randomUUID()}"

  private def under(dir: String): List[String] =
    blobs.keySet.asScala.filter(_.startsWith(dir + "/")).toList

  def putIfAbsent(key: String, content: Array[Byte]): Boolean = {
    val won = blobs.putIfAbsent(key, content) == null
    if (won) stamps.put(key, System.currentTimeMillis())
    won
  }
  def put(key: String, content: Array[Byte]): Unit = {
    blobs.put(key, content)
    stamps.put(key, System.currentTimeMillis())
  }
  def get(key: String): Option[Array[Byte]] = Option(blobs.get(key))
  def contains(key: String): Boolean =
    blobs.containsKey(key) || blobs.keySet.asScala.exists(_.startsWith(key + "/"))
  def list(dir: String): Seq[String] =
    under(dir).map(_.substring(dir.length + 1).takeWhile(_ != '/')).distinct
  def delete(key: String): Boolean = {
    stamps.remove(key)
    blobs.remove(key) != null
  }
  def deleteTree(dir: String): Unit = (dir :: under(dir)).foreach(delete)
  def move(from: String, to: String): Unit = under(from).foreach { k =>
    get(k).foreach(put(to + k.substring(from.length), _))
    delete(k)
  }
  def modifiedMs(key: String): Option[Long] = Option(stamps.get(key)).map(_.longValue)
  def size(key: String): Option[Long] = get(key).map(_.length.toLong)
  def listParquet(dir: String): List[String] =
    under(dir).filter(_.endsWith(".parquet")).map(_.substring(dir.length + 1))
  def importFile(src: String, dst: String): Unit =
    if (!putIfAbsent(dst, get(src).getOrElse(throw new java.io.FileNotFoundException(src))))
      throw new java.nio.file.FileAlreadyExistsException(dst)
}

/** Versioned table metadata over any [[CasBlobStore]] — the
  * [[BlobMetaStore]] protocol, with the commit-path surface object-store
  * callers use: one immutable blob per version, the current version is
  * the max present, and a commit is a single conditional PUT of version
  * N+1. Implements [[graft.commit.CommitTarget]] so
  * [[graft.commit.Committer]] drives it unchanged. */
final class ConditionalPutMetadata(blobs: CasBlobStore)
  extends graft.commit.CommitTarget {

  private val store = new BlobMetaStore(blobs)

  /** Create v1 iff absent; false when another create won. No namespace
    * is required: object stores have no directories to check. */
  def createTable(ns: Seq[String], t: String, m: TableMetadata): Boolean =
    store.commit(ns, t, 0, m)

  def currentVersion(ns: Seq[String], t: String): Int = store.currentVersion(ns, t)
  def load(ns: Seq[String], t: String): (TableMetadata, Int) = store.load(ns, t)
  def loadVersion(ns: Seq[String], t: String, v: Int): TableMetadata =
    store.loadVersion(ns, t, v)
  def commit(ns: Seq[String], t: String, expectedVersion: Int,
             next: TableMetadata): Boolean = store.commit(ns, t, expectedVersion, next)

  /** GC body blobs no retained version references — lost CAS races on
    * this substrate leak one content-addressed blob each. */
  def pruneSnapshotBodies(ns: Seq[String], t: String,
                          live: Set[String], graceMs: Long): Int =
    store.pruneSnapshotBodies(ns, t, live, graceMs)
}
