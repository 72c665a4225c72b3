package graft.commit

import graft.meta._

/** Optimistic-commit algebra: requirements assert on freshly-loaded state,
  * updates are pure metadata deltas, and the committer retries the whole
  * check-then-apply loop on CAS loss — the semantics of the reference's
  * UpdateTable endpoint (`/root/reference/api/handlers/tables.go:150-227`,
  * requirements/updates DTO at `models.go:78-82`, e2e exercise at
  * `test/server_test.go:210-225`).
  */
sealed trait Requirement {
  /** @return None if satisfied, Some(reason) otherwise. */
  def check(m: TableMetadata): Option[String]
}
object Requirement {
  final case class AssertTableUuid(uuid: String) extends Requirement {
    def check(m: TableMetadata): Option[String] =
      if (m.tableUuid == uuid) None
      else Some(s"uuid changed: expected $uuid, found ${m.tableUuid}")
  }
  final case class AssertCurrentSchemaId(id: Int) extends Requirement {
    def check(m: TableMetadata): Option[String] =
      if (m.currentSchemaId == id) None
      else Some(s"current schema changed: expected $id, found ${m.currentSchemaId}")
  }
  final case class AssertDefaultSpecId(id: Int) extends Requirement {
    def check(m: TableMetadata): Option[String] =
      if (m.defaultSpecId == id) None
      else Some(s"default spec changed: expected $id, found ${m.defaultSpecId}")
  }
  final case class AssertCurrentSnapshotId(id: Option[Long]) extends Requirement {
    def check(m: TableMetadata): Option[String] =
      if (m.currentSnapshotId == id) None
      else Some(s"snapshot changed: expected $id, found ${m.currentSnapshotId}")
  }
  /** No snapshot may already carry summary `key` at a value >= `value`
    * — the idempotence fence the exactly-once streaming sink commits
    * under: two drivers racing the same micro-batch both pass the
    * read-side watermark, but only one passes this check INSIDE the
    * CAS loop; the loser gets a terminal CommitFailedException instead
    * of double-appending. */
  final case class AssertMaxSummaryBelow(key: String, value: Long) extends Requirement {
    def check(m: TableMetadata): Option[String] = {
      val cur = Commits.maxSummary(m, key)
      if (cur < value) None
      else Some(s"summary '$key' already committed at $cur >= $value")
    }
  }
}

/** Shared fence arithmetic, used by [[Requirement.AssertMaxSummaryBelow]]
  * and by every sink that must tell a FENCE rejection (work already
  * committed — skip) apart from CAS-retry exhaustion (nothing committed
  * — surface the failure). */
object Commits {
  /** Highest numeric value any snapshot's summary carries for `key`;
    * Long.MinValue when none does. */
  def maxSummary(m: TableMetadata, key: String): Long =
    m.snapshots.flatMap(_.summary.get(key))
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .maxOption.getOrElse(Long.MinValue)

  /** Does `e`'s cause chain (bounded) contain a CommitFailedException? */
  def commitFailed(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .exists(_.isInstanceOf[CommitFailedException])
}

/** Pure metadata delta; `apply` is total given a valid base (ordering
  * matters — AddSchema must precede the SetCurrentSchema that points at
  * it, mirroring `server_test.go:216-220`). The seven file-carrying
  * updates (AppendFiles, OverwritePartitions, RewriteFiles, RowDelta,
  * RewriteDeletes, ReplaceFiles, AppendFilesToRef) build their snapshot
  * with one private builder, `successor`, the counterpart of Iceberg's
  * `SnapshotProducer`; each keeps only its own guard and arguments. */
sealed trait MetadataUpdate { def apply(m: TableMetadata): TableMetadata }
object MetadataUpdate {
  final case class AddSchema(schema: SchemaDef) extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata = {
      require(!m.schemas.exists(_.schemaId == schema.schemaId),
        s"schema id ${schema.schemaId} already present")
      m.copy(schemas = m.schemas :+ schema,
        lastColumnId = math.max(m.lastColumnId,
          SchemaBridge.maxFieldId(schema.fields)))
    }
  }
  final case class SetCurrentSchema(schemaId: Int) extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata = {
      val id = if (schemaId == -1) m.schemas.map(_.schemaId).max else schemaId
      require(m.schemas.exists(_.schemaId == id), s"no schema with id $id")
      m.copy(currentSchemaId = id)
    }
  }
  final case class SetProperties(props: Map[String, String]) extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata =
      m.copy(properties = m.properties ++ props)
  }
  final case class RemoveProperties(keys: Seq[String]) extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata =
      m.copy(properties = m.properties -- keys)
  }
  final case class SetLocation(location: String) extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata = m.copy(location = location)
  }
  final case class AddSnapshot(snapshot: SnapshotDef) extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata =
      // parentage is stamped here — the single point every main-line
      // commit flows through — so ancestry walks (fast-forward safety)
      // work for free on all of them
      m.copy(snapshots = m.snapshots :+
          snapshot.copy(parentId = m.currentSnapshotId),
        currentSnapshotId = Some(snapshot.snapshotId),
        lastSequenceNumber = m.lastSequenceNumber + 1)
  }
  /** The snapshot that follows `base` (None: an empty table) at
    * sequence `seq`: the base's files minus those `removed` selects,
    * then `added`. Kept files keep their stats and sequences; when the
    * update removes files (`removed` is set, even to nothing) their
    * stats and sequences are restricted to the kept files; an append
    * carries the base's maps as they are. Added files get `stats` and
    * sequence `seq`. `deletes` maps the base's delete files to the
    * successor's. Carried map entries iterate before added ones, which
    * fixes the bytes of the rendered body. The parent is left unset:
    * [[AddSnapshot]] stamps it and moves main; a branch append sets it
    * to the branch head. */
  private def successor(base: Option[SnapshotDef], seq: Long, timestampMs: Long,
                        operation: String, summary: Map[String, String],
                        added: List[String], stats: Map[String, List[ColStatDef]],
                        removed: Option[String => Boolean] = None,
                        deletes: List[DeleteFileDef] => List[DeleteFileDef] = identity): SnapshotDef = {
    val files = base.fold(List.empty[String])(_.files)
    val fileStats = base.fold(Map.empty[String, List[ColStatDef]])(_.fileStats)
    val fileSeqs = base.fold(Map.empty[String, Long])(_.fileSeqs)
    val (kept, keptStats, keptSeqs) = removed match {
      case None => (files, fileStats, fileSeqs)
      case Some(gone) =>
        val kept = files.filterNot(gone)
        val keep = kept.toSet
        (kept, fileStats.view.filterKeys(keep).toMap, fileSeqs.view.filterKeys(keep).toMap)
    }
    SnapshotDef(seq, timestampMs, operation, kept ++ added, summary, keptStats ++ stats,
      deletes(base.fold(List.empty[DeleteFileDef])(_.deleteFiles)), keptSeqs ++ added.map(_ -> seq))
  }

  /** Append: new data files join whatever the *fresh* base's current
    * snapshot holds — the delta is computed at apply time, inside the
    * committer's retry loop, so two racing appends both survive (the
    * loser's retry re-applies its delta on top of the winner's snapshot;
    * a precomputed absolute file list would silently drop the winner's
    * files). */
  final case class AppendFiles(newFiles: List[String], timestampMs: Long,
                               stats: Map[String, List[ColStatDef]] = Map.empty,
                               extraSummary: Map[String, String] = Map.empty)
    extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata =
      AddSnapshot(successor(m.currentSnapshot, m.lastSequenceNumber + 1, timestampMs, "append",
        extraSummary + ("added-files" -> newFiles.size.toString),
        newFiles, stats)).apply(m)
  }
  /** Partition overwrite: drop every previous file whose partition-dir
    * key/values FULLY match one of `partitionValues` (each map is one
    * partition tuple, conjunctive within the map, disjunctive across
    * maps), keep the rest, add the new files — the "reprocess day X"
    * commit. Like AppendFiles, the kept/new split is recomputed against
    * the FRESH base inside the committer's retry loop, so an unrelated
    * racing append to an untouched partition survives. */
  final case class OverwritePartitions(newFiles: List[String],
                                       partitionValues: List[Map[String, String]],
                                       timestampMs: Long,
                                       stats: Map[String, List[ColStatDef]] = Map.empty,
                                       extraSummary: Map[String, String] = Map.empty)
    extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata = {
      val prev = m.currentSnapshot.map(_.files).getOrElse(Nil)
      // authoritative layout guard, re-run against the FRESH base on
      // every CAS retry: a racer may have committed files without the
      // referenced dir keys (e.g. written under an older spec); those
      // would silently keep the rows this overwrite replaces
      val required = partitionValues.flatMap(_.keySet).toSet
      prev.find(f => !required.subsetOf(graft.catalog.PartitionDirs.kvs(f).keySet))
        .foreach { f =>
          throw new UnsupportedOperationException(
            s"file $f lacks the partition layout for ${required.mkString(",")} — " +
              "cannot decide partition overwrite against it")
        }
      def replaced(f: String): Boolean = {
        val kvs = graft.catalog.PartitionDirs.kvs(f)
        partitionValues.exists(pv =>
          pv.nonEmpty && pv.forall { case (k, v) => kvs.get(k).contains(v) })
      }
      val gone = prev.filter(replaced).toSet
      AddSnapshot(successor(m.currentSnapshot, m.lastSequenceNumber + 1, timestampMs,
        "overwrite-partitions", extraSummary +
          ("added-files" -> newFiles.size.toString) +
          ("replaced-files" -> prev.count(gone).toString),
        newFiles, stats, removed = Some(gone))).apply(m)
    }
  }
  /** Copy-on-write rewrite: the `removed` files (a scanned subset of the
    * current snapshot) leave, the `added` files (their surviving rows,
    * rewritten) join, everything else is untouched — the commit shape of
    * row-level DELETE/UPDATE/MERGE. Callers guard with
    * AssertCurrentSnapshotId(the scanned snapshot): the rewritten rows
    * were derived from exactly that state, so ANY interleaved commit
    * (even an append) must fail this rewrite rather than be silently
    * merged with stale row data. The removed-set containment check is a
    * belt-and-braces invariant on top of that guard. */
  final case class RewriteFiles(removed: List[String], added: List[String],
                                timestampMs: Long,
                                stats: Map[String, List[ColStatDef]] = Map.empty,
                                extraSummary: Map[String, String] = Map.empty)
    extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata = {
      val prev = m.currentSnapshot.map(_.files).getOrElse(Nil)
      val missing = removed.filterNot(prev.toSet)
      require(missing.isEmpty,
        s"rewrite removes files absent from the current snapshot: " +
          missing.take(3).mkString(", "))
      // delete files stay: they still mask rows in the KEPT files. The
      // added files get this commit's sequence, so no older delete
      // ever applies to them — the rewrite read through the deletes,
      // its output is already net of them
      AddSnapshot(successor(m.currentSnapshot, m.lastSequenceNumber + 1, timestampMs, "rewrite",
        extraSummary +
          ("rewritten-files" -> removed.size.toString) +
          ("added-files" -> added.size.toString),
        added, stats, removed = Some(removed.toSet))).apply(m)
    }
  }

  /** Merge-on-read row delta: `addedDeletes` (equality-delete files of
    * identifier-column values, stamped with this commit's sequence) join
    * the live delete set, `addedData` (an UPDATE/MERGE's new row
    * versions) join the data set at the SAME sequence — one atomic
    * snapshot, no data file rewritten. A DELETE that touches 0.01% of a
    * 100 TB table commits a few KB of keys instead of rewriting every
    * affected file; readers subtract the keys, compaction folds them in. */
  final case class RowDelta(addedData: List[String],
                            addedDeletes: List[DeleteFileDef],
                            timestampMs: Long,
                            stats: Map[String, List[ColStatDef]] = Map.empty,
                            extraSummary: Map[String, String] = Map.empty)
    extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata = {
      val seq = m.lastSequenceNumber + 1
      AddSnapshot(successor(m.currentSnapshot, seq, timestampMs, "delta",
        extraSummary +
          ("added-files" -> addedData.size.toString) +
          ("added-delete-files" -> addedDeletes.size.toString) +
          ("deleted-rows" -> addedDeletes.map(_.rows).sum.toString),
        addedData, stats, deletes = _ ++ addedDeletes.map(_.copy(seq = seq)))).apply(m)
    }
  }

  /** Delete-file maintenance: the new snapshot keeps every data file
    * (and its stats and sequence) and swaps `removed` delete files for
    * `added` — the verb behind merging accumulated position-delete
    * files without touching data. Added defs keep the sequence the
    * CALLER stamped: position deletes name their exact (file, pos)
    * targets so any sequence is equivalent, and the caller is
    * responsible for not widening an equality delete's scope. */
  final case class RewriteDeletes(removed: List[String],
                                  added: List[DeleteFileDef],
                                  timestampMs: Long,
                                  extraSummary: Map[String, String] = Map.empty)
    extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata = {
      if (m.currentSnapshot.isEmpty)
        throw new IllegalStateException("rewrite-deletes on an empty table")
      val removedSet = removed.toSet
      AddSnapshot(successor(m.currentSnapshot, m.lastSequenceNumber + 1, timestampMs,
        "rewrite-deletes", extraSummary +
          ("removed-delete-files" -> removed.size.toString) +
          ("added-delete-files" -> added.size.toString),
        Nil, Map.empty, deletes = _.filterNot(d => removedSet(d.path)) ++ added)).apply(m)
    }
  }

  /** Overwrite: the new snapshot holds exactly the new files — it
    * stacks on no base, so nothing is carried. That includes the delete
    * files: the new file set is authoritative (compaction reads THROUGH
    * the old deletes before writing it; INSERT OVERWRITE discards the
    * rows they masked anyway). */
  final case class ReplaceFiles(newFiles: List[String], timestampMs: Long,
                                stats: Map[String, List[ColStatDef]] = Map.empty,
                                extraSummary: Map[String, String] = Map.empty)
    extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata =
      AddSnapshot(successor(None, m.lastSequenceNumber + 1, timestampMs, "overwrite",
        extraSummary + ("added-files" -> newFiles.size.toString),
        newFiles, stats)).apply(m)
  }
  final case class AddPartitionSpec(spec: PartitionSpecDef) extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata = {
      require(!m.specs.exists(_.specId == spec.specId),
        s"partition spec id ${spec.specId} already present")
      m.copy(specs = m.specs :+ spec, defaultSpecId = spec.specId)
    }
  }
  /** Rollback: re-point the current snapshot at an existing (older)
    * snapshot. History is preserved — nothing is deleted, and a later
    * append stacks onto the rolled-back state (its file delta is
    * computed against the new current snapshot inside the retry loop). */
  final case class SetCurrentSnapshot(snapshotId: Long) extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata = {
      require(m.snapshots.exists(_.snapshotId == snapshotId),
        s"no snapshot with id $snapshotId")
      m.copy(currentSnapshotId = Some(snapshotId))
    }
  }

  /** Snapshot-history trimming (expiry's document half): drop the
    * listed snapshot entries from the metadata document. Without this
    * the `snapshots` list — headers plus body references — grows with
    * every commit forever, and expired history keeps its externalized
    * bodies pinned against GC. Refuses the current snapshot and any
    * ref-pinned snapshot, re-checked against the FRESH document on
    * every CAS retry — a ref created while expiry raced protects its
    * snapshot. Physical file deletion stays the caller's job, gated on
    * what retained versions reference. */
  final case class RemoveSnapshots(ids: Seq[Long]) extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata = {
      val drop = ids.toSet
      require(!m.currentSnapshotId.exists(drop),
        "cannot remove the current snapshot")
      val pinned = m.refs.values.map(_.snapshotId).toSet.intersect(drop)
      require(pinned.isEmpty,
        s"cannot remove ref-pinned snapshots ${pinned.mkString(", ")}")
      m.copy(snapshots = m.snapshots.filterNot(s => drop(s.snapshotId)))
    }
  }

  /** Create or move a named ref. Branches move freely (that's what
    * commits to them do); a tag is immutable once set — drop it first to
    * re-point, so "known good" markers can't drift silently. */
  final case class SetRef(name: String, snapshotId: Long, refType: String)
    extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata = {
      require(refType == "branch" || refType == "tag",
        s"ref type must be branch or tag, got '$refType'")
      require(name.trim.nonEmpty, "ref name must be non-empty")
      // `VERSION AS OF '<x>'` resolves integers as metadata versions
      // FIRST — an integer-looking ref would be unreachable (shadowed)
      require(scala.util.Try(name.trim.toLong).isFailure,
        s"ref name '$name' would be shadowed by version time travel — " +
          "pick a non-numeric name")
      require(m.snapshots.exists(_.snapshotId == snapshotId),
        s"no snapshot with id $snapshotId")
      m.refs.get(name).foreach { existing =>
        require(existing.refType == refType,
          s"ref '$name' already exists as a ${existing.refType}")
        require(refType == "branch",
          s"tag '$name' is immutable — drop it before re-pointing")
      }
      m.copy(refs = m.refs + (name -> RefDef(snapshotId, refType)))
    }
  }

  final case class RemoveRef(name: String) extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata = {
      require(m.refs.contains(name), s"no ref named '$name'")
      m.copy(refs = m.refs - name)
    }
  }

  /** Append to a BRANCH: the new snapshot stacks on the branch head and
    * only the ref moves — main (`currentSnapshotId`) is untouched. The
    * write half of write-audit-publish: stage data on `audit`, validate
    * it by reading `VERSION AS OF 'audit'`, then [[FastForward]] main.
    * Like AppendFiles, the branch base is re-resolved against the fresh
    * metadata inside the CAS retry loop, so branch and main commits
    * interleave without losing either. */
  final case class AppendFilesToRef(ref: String, newFiles: List[String],
                                    timestampMs: Long,
                                    stats: Map[String, List[ColStatDef]] = Map.empty,
                                    extraSummary: Map[String, String] = Map.empty)
    extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata = {
      val rd = m.refs.getOrElse(ref,
        throw new IllegalArgumentException(
          s"no branch named '$ref' — create it before writing to it"))
      require(rd.refType == "branch", s"cannot append to tag '$ref'")
      val base = m.snapshots.find(_.snapshotId == rd.snapshotId).getOrElse(
        throw new IllegalStateException(s"branch '$ref' points at a missing snapshot"))
      val seq = m.lastSequenceNumber + 1
      val snap = successor(Some(base), seq, timestampMs, "append",
        extraSummary + ("added-files" -> newFiles.size.toString) + ("branch" -> ref),
        newFiles, stats).copy(parentId = Some(rd.snapshotId))
      m.copy(snapshots = m.snapshots :+ snap,
        refs = m.refs + (ref -> rd.copy(snapshotId = seq)),
        lastSequenceNumber = seq)
    }
  }

  /** Publish a branch: fast-forward main to the branch head, but ONLY
    * if main's current snapshot is an ancestor of it (walked over
    * parentId) — main moved since the branch forked means the branch is
    * stale and publishing would silently drop main's commits. Re-checked
    * against fresh metadata inside the CAS retry loop. */
  final case class FastForward(ref: String) extends MetadataUpdate {
    def apply(m: TableMetadata): TableMetadata = {
      val rd = m.refs.getOrElse(ref,
        throw new IllegalArgumentException(s"no ref named '$ref'"))
      val byId = m.snapshots.map(s => s.snapshotId -> s).toMap
      def isAncestor(of: Option[Long], candidate: Option[Long]): Boolean =
        candidate match {
          case None => false
          case `of` => true
          case Some(id) => isAncestor(of, byId.get(id).flatMap(_.parentId))
        }
      m.currentSnapshotId match {
        case None => () // empty main: any branch head publishes
        case cur =>
          require(isAncestor(cur, Some(rd.snapshotId)),
            s"main is not an ancestor of '$ref' — it moved since the " +
              "branch forked; rebase the branch (or rollback main) first")
      }
      m.copy(currentSnapshotId = Some(rd.snapshotId))
    }
  }
}

final class CommitFailedException(msg: String) extends RuntimeException(msg)

/** What the committer needs from a metadata backend: versioned load and
  * a single-winner conditional write. [[graft.meta.BlobMetaStore]]
  * implements it once over [[graft.meta.CasBlobStore]]'s create-if-absent
  * (POSIX hard link, Hadoop rename, object-store If-None-Match PUT);
  * [[graft.meta.ConditionalPutMetadata]] exposes that same protocol as a
  * bare commit target. */
trait CommitTarget {
  def load(ns: Seq[String], table: String): (TableMetadata, Int)
  def commit(ns: Seq[String], table: String, expectedVersion: Int,
             next: TableMetadata): Boolean
}

/** Validate-then-CAS committer with bounded retry. Each attempt re-loads
  * the current metadata, re-checks every requirement against it, applies
  * the updates in order, and attempts the single-winner version write.
  * Losing the race retries from the fresh state; a failed requirement is
  * terminal (the reference surfaces it as a 409/422-class error).
  *
  * Retries back off with full jitter (random in [0, min(cap, base·2^n)]):
  * against a remote CAS backend (object store, REST) many drivers losing
  * the same race would otherwise re-collide in lockstep — a thundering
  * herd that turns contention into livelock. The first retry is
  * sleep-free (local stores resolve races in microseconds). */
final class Committer(store: CommitTarget) {
  private val maxRetries = 100
  private val backoffBaseMs = 1L
  private val backoffCapMs = 200L

  def commit(ns: Seq[String], table: String,
             requirements: Seq[Requirement],
             updates: Seq[MetadataUpdate]): TableMetadata = {
    var attempt = 0
    while (true) {
      val (base, version) = store.load(ns, table)
      requirements.foreach { r =>
        r.check(base).foreach(reason =>
          throw new CommitFailedException(s"requirement failed: $reason"))
      }
      val next = updates.foldLeft(base)((m, u) => u.apply(m))
      if (store.commit(ns, table, version, next)) return next
      attempt += 1
      if (attempt > maxRetries)
        throw new CommitFailedException(
          s"lost CAS race $maxRetries times on ${(ns :+ table).mkString(".")}")
      if (attempt > 1) {
        val ceiling = math.min(backoffCapMs,
          backoffBaseMs << math.min(attempt, 30))
        val sleep = java.util.concurrent.ThreadLocalRandom.current()
          .nextLong(ceiling + 1)
        if (sleep > 0) Thread.sleep(sleep)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
