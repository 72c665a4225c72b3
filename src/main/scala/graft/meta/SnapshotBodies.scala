package graft.meta

import java.nio.charset.StandardCharsets.UTF_8
import org.json4s._
import org.json4s.jackson.Serialization

/** Externalized snapshot payloads.
  *
  * A version document that inlines every snapshot's file list makes a
  * commit cost O(history × files): at 100 TB (~10⁶ data files) and a
  * retained history, every commit would re-serialize gigabytes of
  * unchanged file lists, and every load would parse them back. Instead,
  * each snapshot's heavy fields — file list, per-file column stats,
  * delete files, sequence map — are written ONCE as an immutable,
  * content-addressed side document (`snap-<id>-<hash>.body.json` next
  * to the version files), and every version containing that snapshot
  * references it by name. A commit then writes one new body (the new
  * snapshot) plus a slim version document of headers — O(current
  * commit), not O(history). The same idea as Iceberg's shared manifest
  * files, adapted to this store's one-document-per-version protocol.
  * Slim documents carry `formatVersion = 2` so a pre-upgrade reader
  * fails loudly instead of parsing empty file lists as an empty table.
  *
  * Reuse of an existing body is doubly guarded: the in-memory payload
  * must be the instance cached under that name (reference identity fast
  * path — `inflate` installs the cached instances — with structural
  * equality as the slow path), AND [[persist]] verifies the name still
  * exists in the target store before the version CAS — so a dropped-
  * and-recreated table, a cross-store cache hit, or a GC race never
  * commits a dangling reference. Names carry a content hash, so
  * replayed or racing writes of identical content land idempotently
  * under create-if-absent semantics.
  *
  * Pre-upgrade metadata (snapshots without `bodyRef`) passes through
  * both directions unchanged — old version documents stay readable, and
  * the next commit migrates them to bodies. Bodies orphaned by expired
  * history or lost CAS races are collected by snapshot expiry (see
  * `GraftCatalog.expireSnapshots`). */
object SnapshotBodies {

  implicit private val formats: Formats = Serialization.formats(NoTypeHints)

  /** Version documents whose snapshots reference bodies are stamped
    * with this format version; readers accept anything up to it. */
  val FormatVersion = 2

  final case class Body(files: List[String],
                        fileStats: Map[String, List[ColStatDef]],
                        deleteFiles: List[DeleteFileDef],
                        fileSeqs: Map[String, Long])

  // (store scope + body name) → parsed body, in access order. Bodies are
  // immutable; the bound only caps memory (entry count as a proxy —
  // histories are metadata-scale). Overflow evicts the least recently
  // used body, so a table that keeps being read keeps its bodies while
  // colder tables' bodies stream through.
  private val Bound = 512
  private val cache = new java.util.LinkedHashMap[String, Body](Bound, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Body]): Boolean =
      size > Bound
  }
  private def cached(k: String): Option[Body] = cache.synchronized(Option(cache.get(k)))
  private def cachePut(k: String, b: Body): Unit = cache.synchronized(cache.put(k, b))

  /** Forget every cached body under `scope` — table drop/rename
    * hygiene, so a recreated table at the same path can never hit a
    * stale entry. (Reuse is existence-verified anyway; this keeps the
    * cache from serving a deleted table's payloads.) */
  def invalidateScope(scope: String): Unit = {
    val prefix = s"$scope/"
    cache.synchronized(cache.keySet.removeIf(_.startsWith(prefix)))
  }

  private def same(b: Body, s: SnapshotDef): Boolean =
    ((b.files eq s.files) || b.files == s.files) &&
      ((b.fileStats eq s.fileStats) || b.fileStats == s.fileStats) &&
      ((b.deleteFiles eq s.deleteFiles) || b.deleteFiles == s.deleteFiles) &&
      ((b.fileSeqs eq s.fileSeqs) || b.fileSeqs == s.fileSeqs)

  private def hashHex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(UTF_8))
      .take(8).map("%02x".format(_)).mkString

  /** Persist `m`'s snapshot payloads into directory `dir` of `blobs` and
    * return the slim document to CAS: fresh bodies are written
    * (create-if-absent — an already-present name holds identical
    * bytes), and REUSED references are existence-verified, re-writing
    * from cache when the store lost them. `dir` also scopes the cache
    * per store+table. */
  def persist(blobs: CasBlobStore, dir: String, m: TableMetadata): TableMetadata = {
    val reused = Seq.newBuilder[String]
    val slim = m.snapshots.map { s =>
      val reusable = s.bodyRef.exists(n =>
        cached(s"$dir/$n").exists(same(_, s)))
      val name = s.bodyRef.filter(_ => reusable) match {
        case Some(n) => reused += n; n
        case None =>
          val body = Body(s.files, s.fileStats, s.deleteFiles, s.fileSeqs)
          val json = MetaJson.body(body)
          val n = s"snap-${s.snapshotId}-${hashHex(json)}.body.json"
          blobs.putIfAbsent(blobs.resolve(dir, n), json.getBytes(UTF_8))
          cachePut(s"$dir/$n", body)
          n
      }
      s.copy(files = Nil, fileStats = Map.empty, deleteFiles = Nil,
        fileSeqs = Map.empty, bodyRef = Some(name))
    }
    heal(blobs, dir, reused.result())
    m.copy(snapshots = slim, formatVersion = FormatVersion)
  }

  /** Post-CAS healing: re-write any referenced body the store lost
    * between [[persist]] and the CAS landing (a slow committer can
    * outlive the expiry grace window — its staged body looks orphaned
    * and gets pruned; once the CAS wins, the content must come back).
    * Bodies absent from the cache cannot be healed — the next prune's
    * grace window is the backstop against that being common. */
  def ensure(blobs: CasBlobStore, dir: String, slim: TableMetadata): Unit =
    heal(blobs, dir, slim.snapshots.flatMap(_.bodyRef))

  private def heal(blobs: CasBlobStore, dir: String, names: Seq[String]): Unit =
    names.distinct.foreach { n =>
      val key = blobs.resolve(dir, n)
      if (!blobs.contains(key)) cached(s"$dir/$n").foreach(b =>
        blobs.putIfAbsent(key, MetaJson.body(b).getBytes(UTF_8)))
    }

  /** Re-inflate a loaded slim document: resolve each `bodyRef` through
    * `read` (relative name → document text), caching parsed bodies so
    * repeated loads of a table's history parse each body once per JVM.
    * Snapshots without a ref (pre-upgrade inline metadata) pass through
    * unchanged. */
  def inflate(scope: String, m: TableMetadata,
              read: String => String): TableMetadata =
    if (m.snapshots.forall(_.bodyRef.isEmpty)) m
    else m.copy(snapshots = m.snapshots.map { s =>
      s.bodyRef match {
        case None => s
        case Some(n) =>
          val k = s"$scope/$n"
          val body = cached(k).getOrElse {
            val b =
              try Serialization.read[Body](read(n))
              catch {
                case scala.util.control.NonFatal(e) =>
                  throw new IllegalStateException(
                    s"snapshot body $n under $scope is missing or " +
                      "unreadable — expired history, a pruned orphan, " +
                      "or a partially-restored warehouse", e)
              }
            cachePut(k, b)
            b
          }
          s.copy(files = body.files, fileStats = body.fileStats,
            deleteFiles = body.deleteFiles, fileSeqs = body.fileSeqs)
      }
    })
}
