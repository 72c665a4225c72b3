package graft.meta

/** The metadata-backend surface the catalog, table, and REST layers
  * program against — versioned namespace/table documents plus the few
  * physical-file operations the write/compact/expire paths need. The
  * versioned protocol (layout, namespaces, version CAS, snapshot bodies,
  * drop and rename) is written once, in [[BlobMetaStore]], over one
  * storage primitive, [[CasBlobStore]]'s create-if-absent, with three
  * adapters:
  *   - [[PosixBlobStore]]: local filesystem, temp write + hard link
  *     (java.nio) — [[MetadataStore]];
  *   - [[HadoopBlobStore]]: any Hadoop FileSystem whose rename refuses
  *     an existing destination (HDFS, ABFS, a MiniCluster) —
  *     [[HadoopMetadataStore]];
  *   - [[InMemoryBlobStore]]: object-store semantics, conditional PUT
  *     (commit-path surface: [[ConditionalPutMetadata]]).
  * [[RestMetadataStore]] instead delegates every call to another graft
  * REST catalog (federation). Mirrors the reference's pluggable backend
  * seam (`reference/main.go:13-15`: glue | rest | sql).
  */
trait MetaStore extends graft.commit.CommitTarget {
  def warehouse: String

  // ---- namespaces ----
  def namespaceExists(ns: Seq[String]): Boolean
  def createNamespace(ns: Seq[String], props: Map[String, String]): Unit
  def loadNamespace(ns: Seq[String]): Map[String, String]
  def setNamespaceProperties(ns: Seq[String], props: Map[String, String]): Unit
  def listNamespaces(parent: Seq[String]): Seq[Seq[String]]
  def dropNamespace(ns: Seq[String]): Boolean

  // ---- tables ----
  def tableExists(ns: Seq[String], t: String): Boolean
  def listTables(ns: Seq[String]): Seq[String]
  def currentVersion(ns: Seq[String], t: String): Int
  def metadataLocation(ns: Seq[String], t: String, version: Int): String
  def loadVersion(ns: Seq[String], t: String, v: Int): TableMetadata
  def createTable(ns: Seq[String], t: String, m: TableMetadata): Unit
  def dropTable(ns: Seq[String], t: String): Boolean
  def renameTable(fromNs: Seq[String], from: String,
                  toNs: Seq[String], to: String): Unit
  def dataDir(ns: Seq[String], t: String): String

  /** The requirements+updates commit (the REST-shaped entry point).
    * Filesystem stores run the optimistic CAS loop locally; a
    * delegating store forwards the ops so the BACKING catalog's
    * committer arbitrates — forwarding a raw (version, document) CAS
    * would instead race every hop. */
  def commitOps(ns: Seq[String], table: String,
                requirements: Seq[graft.commit.Requirement],
                updates: Seq[graft.commit.MetadataUpdate]): TableMetadata =
    new graft.commit.Committer(this).commit(ns, table, requirements, updates)

  // ---- physical files (write staging / compaction / expiry) ----
  /** Create the warehouse root if absent. */
  def ensureRoot(): Unit
  /** Recursively list `.parquet` files under an absolute directory, as
    * paths RELATIVE to it; empty when the directory doesn't exist. */
  def listParquetUnder(absDir: String): List[String]
  /** Recursively delete a directory tree (no-op when absent). */
  def deleteTree(absDir: String): Unit
  /** Delete one file; false when it didn't exist. */
  def deleteFileIfExists(abs: String): Boolean
  /** Last-modified epoch millis; None when the file vanished. */
  def lastModifiedMs(abs: String): Option[Long]
  /** File length in bytes; None when the file vanished. */
  def fileSizeBytes(abs: String): Option[Long]

  /** Make the bytes at `srcAbs` available at `destAbs` without
    * rewriting them — the onboarding primitive behind `add_files`. The
    * POSIX store hard-links (true zero-copy on one device); the Hadoop
    * store copies in one pass (works across schemes). Parents are
    * created; an existing destination fails loudly (import dirs are
    * uuid-scoped — a collision is a logic error, never something to
    * paper over). Default: the store the destination's location
    * selects (see [[MetaStore.forWarehouse]]). */
  def importFile(srcAbs: String, destAbs: String): Unit =
    MetaStore.forWarehouse(destAbs).importFile(srcAbs, destAbs)

  /** GC externalized snapshot bodies (see [[SnapshotBodies]]) whose
    * name is not in `live`, skipping bodies younger than `graceMs` (a
    * body staged by an in-flight commit is referenced by no version
    * until its CAS lands). Returns the number deleted. Default no-op:
    * a delegating store's BACKING catalog runs its own expiry. */
  def pruneSnapshotBodies(ns: Seq[String], t: String,
                          live: Set[String], graceMs: Long): Int = 0
}

object MetaStore {
  /** Object stores whose Hadoop connector implements rename as a
    * non-atomic copy+delete: the Hadoop adapter's rename-CAS would let
    * two racing committers both "win" a version there — silent lost
    * commits. Fail fast and point at the conditional-PUT protocol. */
  private val CopyDeleteRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "swift")

  /** Pick the store implementation for a warehouse location: bare paths
    * and `file:` URIs use the POSIX hard-link store; `http(s)` points at
    * another graft REST catalog (federation — the reference's `rest`
    * backend, `main.go:14`); any other scheme goes through the Hadoop
    * FileSystem API (the seam a real cluster points at `hdfs://` /
    * `abfs://`). */
  def forWarehouse(wh: String): MetaStore = {
    val scheme = try Option(new java.net.URI(wh).getScheme)
    catch { case _: java.net.URISyntaxException => None }
    scheme match {
      case None | Some("file") => new MetadataStore(
        if (wh.startsWith("file:")) new java.net.URI(wh).getPath else wh)
      case Some("http") | Some("https") => new RestMetadataStore(wh)
      case Some(s) if CopyDeleteRenameSchemes.contains(s.toLowerCase) =>
        throw new IllegalArgumentException(
          s"warehouse scheme '$s' has non-atomic rename — the rename-CAS " +
            "store would silently lose racing commits there; use a " +
            "conditional-PUT commit backend (ConditionalPutMetadata) or " +
            "front the warehouse with a graft REST catalog (http://…)")
      case Some(_) => new HadoopMetadataStore(wh)
    }
  }
}
