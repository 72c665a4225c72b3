package graft.meta

import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, NotDirectoryException, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._

/** The [[MetaStore]] protocol on a local file system: [[BlobMetaStore]]
  * over [[PosixBlobStore]]. */
final class MetadataStore(warehouse: String)
  extends BlobMetaStore(new PosixBlobStore(warehouse))

/** [[CasBlobStore]] over java.nio. Create-if-absent is a temp write plus
  * a hard link into place: link(2) fails with EEXIST atomically, and the
  * target is never observable partially written (a bare CREATE_NEW would
  * expose an empty file to concurrent readers between create and write).
  * Keys are plain file-system paths, so every location the protocol hands
  * out (`metadataLocation`, `dataDir`) is one too. */
final class PosixBlobStore(val root: String) extends CasBlobStore {

  override def resolve(dir: String, name: String): String = Paths.get(dir, name).toString

  private def temp(p: Path): Path =
    p.resolveSibling("." + p.getFileName + ".tmp." + java.util.UUID.randomUUID())

  def putIfAbsent(key: String, content: Array[Byte]): Boolean = {
    val p = Paths.get(key)
    val tmp = temp(p)
    Files.write(tmp, content, StandardOpenOption.CREATE_NEW)
    try { Files.createLink(p, tmp); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  def put(key: String, content: Array[Byte]): Unit = {
    val p = Paths.get(key)
    val tmp = temp(p)
    Files.write(tmp, content)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def get(key: String): Option[Array[Byte]] =
    try Some(Files.readAllBytes(Paths.get(key)))
    catch { case _: NoSuchFileException => None }

  def contains(key: String): Boolean = Files.exists(Paths.get(key))

  def list(dir: String): Seq[String] =
    try MetadataStore.listDir(Paths.get(dir)).map(_.getFileName.toString)
    catch { case _: NoSuchFileException | _: NotDirectoryException => Nil }

  def delete(key: String): Boolean = Files.deleteIfExists(Paths.get(key))
  def deleteTree(dir: String): Unit = MetadataStore.deleteRecursive(Paths.get(dir))
  def move(from: String, to: String): Unit = Files.move(Paths.get(from), Paths.get(to))
  override def mkdirs(dir: String): Unit = Files.createDirectories(Paths.get(dir))

  private def attrs(key: String) =
    try Some(Files.readAttributes(Paths.get(key), classOf[BasicFileAttributes]))
    catch { case _: java.io.IOException => None }
  def modifiedMs(key: String): Option[Long] = attrs(key).map(_.lastModifiedTime.toMillis)
  def size(key: String): Option[Long] = attrs(key).map(_.size)

  def listParquet(dir: String): List[String] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Nil
    val walk = Files.walk(d)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => d.relativize(p).toString).toList
    finally walk.close()
  }

  /** Zero-copy import on one device: hard-link the source into the
    * data dir (committed files are immutable on both sides, so sharing
    * the inode is safe); cross-device (EXDEV) or no-link filesystems
    * fall back to a byte copy. */
  def importFile(src: String, dst: String): Unit = {
    val (s, d) = (Paths.get(src), Paths.get(dst))
    Files.createDirectories(d.getParent)
    try Files.createLink(d, s)
    catch {
      case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
        Files.copy(s, d)
    }
  }
}

object MetadataStore {
  /** List a directory with the stream CLOSED before returning. Every
    * listing goes through here — a bare `Files.list(p).iterator()` holds
    * the directory descriptor open forever, and since `currentVersion`
    * runs on every table load, a long-lived server (or one test JVM
    * running the whole suite) marches straight into the process FD
    * limit. */
  private[meta] def listDir(p: Path): List[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Depth-first delete; the directory stream is closed before recursing
    * (an unclosed Files.list leaks a descriptor per directory level). */
  def deleteRecursive(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursive)
    Files.deleteIfExists(p)
  }
}
