package graft.meta

import java.io.FileNotFoundException
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}

/** The [[MetaStore]] protocol over the Hadoop FileSystem API — the store
  * a cluster points at a non-POSIX warehouse (`hdfs://`, `abfs://`, a
  * MiniCluster, or any registered `fs.<scheme>.impl`): [[BlobMetaStore]]
  * over [[HadoopBlobStore]]. The reference reaches the same class of
  * backends through iceberg-go's FileIO config
  * (`reference/configs/.iceberg-go.yaml:7-10`). The driver-side
  * session's Hadoop conf carries `fs.<scheme>.impl` and credentials;
  * defaults apply when no session exists yet. */
final class HadoopMetadataStore(warehouse: String)
  extends BlobMetaStore(new HadoopBlobStore(warehouse,
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf()).getOrElse(new Configuration())))

/** [[CasBlobStore]] over a Hadoop FileSystem. Create-if-absent writes the
  * full content to a temp file, then renames it into place. The Hadoop
  * rename contract this relies on — atomic, REFUSES an existing
  * destination — holds on HDFS and ABFS: exactly one of two racing
  * creates wins, and the target is never observable partially written.
  * Object stores whose rename is copy+delete need a conditional-PUT
  * adapter instead (see [[MetaStore.forWarehouse]]). Keys are Hadoop
  * path strings. */
final class HadoopBlobStore(val root: String, conf: Configuration) extends CasBlobStore {

  private val fs: FileSystem = new Path(root).getFileSystem(conf)

  override def resolve(dir: String, name: String): String =
    new Path(new Path(dir), name).toString

  private def write(p: Path, content: Array[Byte], overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(content) finally out.close()
  }

  def putIfAbsent(key: String, content: Array[Byte]): Boolean = {
    val p = new Path(key)
    val tmp = new Path(p.getParent, "." + p.getName + ".tmp." + java.util.UUID.randomUUID())
    write(tmp, content, overwrite = false)
    try fs.rename(tmp, p) finally fs.delete(tmp, false)
  }

  def put(key: String, content: Array[Byte]): Unit = write(new Path(key), content, overwrite = true)

  def get(key: String): Option[Array[Byte]] =
    try { val in = fs.open(new Path(key)); try Some(in.readAllBytes()) finally in.close() }
    catch { case _: FileNotFoundException => None }

  def contains(key: String): Boolean = fs.exists(new Path(key))

  def list(dir: String): Seq[String] =
    try fs.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
    catch { case _: FileNotFoundException => Nil }

  def delete(key: String): Boolean = fs.delete(new Path(key), false)
  def deleteTree(dir: String): Unit = fs.delete(new Path(dir), true)
  override def mkdirs(dir: String): Unit = fs.mkdirs(new Path(dir))

  def move(from: String, to: String): Unit =
    if (!fs.rename(new Path(from), new Path(to)))
      throw new java.io.IOException(s"rename failed: $from -> $to")

  private def status(key: String) =
    try Some(fs.getFileStatus(new Path(key))) catch { case _: FileNotFoundException => None }
  def modifiedMs(key: String): Option[Long] = status(key).map(_.getModificationTime)
  def size(key: String): Option[Long] = status(key).map(_.getLen)

  def listParquet(dir: String): List[String] = {
    val base = new Path(dir)
    if (!fs.exists(base)) return Nil
    val prefix = base.toUri.getPath.stripSuffix("/")
    val out = List.newBuilder[String]
    // plain listStatus recursion (not listFiles): it needs no block
    // locations or permissions, which keeps it portable across FS impls
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else {
        val p = st.getPath.toUri.getPath
        if (p.endsWith(".parquet")) out += p.stripPrefix(prefix).stripPrefix("/")
      }
    }
    walk(base)
    out.result()
  }

  /** Single-pass byte copy (works across schemes); parents are created,
    * and an existing destination fails loudly (import dirs are
    * uuid-scoped — a collision is a logic error, never something to
    * paper over). */
  def importFile(src: String, dst: String): Unit = {
    val (s, d) = (new Path(src), new Path(dst))
    fs.mkdirs(d.getParent)
    if (!FileUtil.copy(s.getFileSystem(conf), s, fs, d,
        false /* deleteSource */, false /* overwrite */, conf))
      throw new java.io.IOException(s"import copy $src -> $dst failed")
  }
}
