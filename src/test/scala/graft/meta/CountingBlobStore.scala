package graft.meta

import java.util.concurrent.atomic.AtomicInteger

/** A view of another [[CasBlobStore]] that counts the reads, existence
  * checks and listings made through it. Its keys carry a prefix of their
  * own, so a metadata store over the view shares no process-wide cache
  * entry (versions, newest-version hints, snapshot bodies) with a store
  * over `under`: the two act like stores in two processes over one
  * warehouse. */
final class CountingBlobStore(under: CasBlobStore) extends CasBlobStore {
  private val prefix = s"counted-${java.util.UUID.randomUUID()}|"
  private def real(key: String): String = {
    require(key.startsWith(prefix), s"not a key of this view: $key")
    key.substring(prefix.length)
  }
  private def view(key: String): String = prefix + key

  /** `get` calls. */
  val reads = new AtomicInteger
  /** `contains`, `modifiedMs` and `size` calls. */
  val stats = new AtomicInteger
  /** `list` and `listParquet` calls. */
  val lists = new AtomicInteger
  def reset(): Unit = Seq(reads, stats, lists).foreach(_.set(0))

  val root: String = view(under.root)
  override def resolve(dir: String, name: String): String = view(under.resolve(real(dir), name))
  def putIfAbsent(key: String, content: Array[Byte]): Boolean =
    under.putIfAbsent(real(key), content)
  def put(key: String, content: Array[Byte]): Unit = under.put(real(key), content)
  def get(key: String): Option[Array[Byte]] = { reads.incrementAndGet(); under.get(real(key)) }
  def contains(key: String): Boolean = { stats.incrementAndGet(); under.contains(real(key)) }
  def list(dir: String): Seq[String] = { lists.incrementAndGet(); under.list(real(dir)) }
  def delete(key: String): Boolean = under.delete(real(key))
  def deleteTree(dir: String): Unit = under.deleteTree(real(dir))
  def move(from: String, to: String): Unit = under.move(real(from), real(to))
  override def mkdirs(dir: String): Unit = under.mkdirs(real(dir))
  def modifiedMs(key: String): Option[Long] = { stats.incrementAndGet(); under.modifiedMs(real(key)) }
  def size(key: String): Option[Long] = { stats.incrementAndGet(); under.size(real(key)) }
  def listParquet(dir: String): List[String] = {
    lists.incrementAndGet()
    under.listParquet(real(dir))
  }
  def importFile(src: String, dst: String): Unit = under.importFile(real(src), real(dst))
}
