package graft.catalog

import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, Statistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType

import graft.meta.MetaStore

/** Stream offset of the data stream and the changelog stream = table
  * metadata version, plus an optional SUB-COMMIT watermark: `version` is
  * the last FULLY-delivered metadata version ("every file in version v's
  * snapshot has been delivered") and `fileIdx` (> 0 only mid-way through
  * a PURE-APPEND commit) counts how many of version `version`+1's added
  * files have already gone out, so one giant backfill append splits into
  * bounded micro-batches instead of planning as a single unboundable
  * one. Versions are totally ordered, durable, and replayable
  * (`loadVersion` serves immutable history), which makes the offset
  * restart-safe and humanly debuggable; at a commit boundary it
  * serializes as the bare version integer and mid-commit as `v:k`, the
  * forms both streams have always written, so existing checkpoints
  * resume unchanged. */
private[graft] case class GraftSourceOffset(version: Int, fileIdx: Int = 0)
  extends Offset {
  override def json(): String =
    if (fileIdx == 0) version.toString else s"$version:$fileIdx"
}

private[graft] object GraftSourceOffset {
  def parse(j: String): GraftSourceOffset = j.trim.split(":") match {
    case Array(v) => GraftSourceOffset(v.trim.toInt)
    case Array(v, k) => GraftSourceOffset(v.trim.toInt, k.trim.toInt)
    case _ => throw new IllegalArgumentException(s"bad source offset '$j'")
  }
  /** Any offset of either stream, through its json if another class
    * carries it. */
  def of(o: Offset): GraftSourceOffset = o match {
    case g: GraftSourceOffset => g
    case other => parse(other.json())
  }
}

/** The budget walk with SUB-COMMIT splitting, shared by the data stream
  * and the changelog stream (their admission semantics are identical;
  * only the per-version cost probes differ): pure-append commits admit
  * file by file under the file/byte budgets, other commits admit
  * atomically, and at least one unit — file or atomic step — always
  * admits so the stream progresses. Returns (lastFullVersion, fileIdx):
  * fileIdx > 0 means the walk stopped INSIDE version lastFull+1's
  * append after that many files. */
private[graft] object SubCommitWalk {
  def walk(startVersion: Int, startFileIdx: Int, cur: Int,
           fileCap: Option[Int], byteCap: Option[Long],
           appendFiles: Int => Option[Seq[(String, Long)]],
           atomicCost: Int => (Int, Long)): (Int, Int) = {
    var lastFull = startVersion
    var extra = 0
    var fileBudget = fileCap.getOrElse(Int.MaxValue).toLong
    var byteBudget = byteCap.getOrElse(Long.MaxValue)
    var admitted = false
    var done = false
    var v = startVersion + 1
    var skip = startFileIdx
    while (v <= cur && !done) {
      appendFiles(v) match {
        case Some(files) =>
          var k = skip
          while (k < files.size && !done) {
            val len = if (byteCap.isDefined) files(k)._2 else 0L
            if ((fileBudget >= 1 && byteBudget >= len) || !admitted) {
              fileBudget -= 1; byteBudget -= len
              k += 1; admitted = true
              if (fileBudget <= 0 || byteBudget <= 0) done = true
            } else done = true
          }
          if (k >= files.size) { lastFull = v; extra = 0 }
          else { extra = k; done = true } // lastFull stays v-1
        case None =>
          val (n, b) = atomicCost(v)
          if ((n <= fileBudget && b <= byteBudget) || !admitted) {
            lastFull = v; extra = 0; admitted = true
            fileBudget -= n; byteBudget -= b
            if (fileBudget <= 0 || byteBudget <= 0) done = true
          } else done = true
      }
      skip = 0
      v += 1
    }
    (lastFull, extra)
  }
}

/** MICRO_BATCH_READ over a graft catalog table — the missing half of the
  * CDC loop (the reference catalog exists to serve engines' continuous
  * reads; `/root/reference/api/handlers/tables.go:229-273` is the load
  * endpoint such an engine polls). Each micro-batch is exactly the
  * file-set delta between two metadata versions — the same computation
  * the batch `from-version` read option performs — so
  * {{{ spark.readStream.table("graft.ns.t") }}}
  * tails snapshot commits: appends arrive as their new files, nothing is
  * ever re-delivered (the engine checkpoints version offsets), and
  * chained with the exactly-once sink you get table-to-table incremental
  * pipelines.
  *
  * Semantics under non-append commits mirror `from-version`: after an
  * overwrite/rollback the delta is "files the commit introduced" — a
  * changes-feed of additions, never a retraction stream. Offsets older
  * than the earliest retained metadata version (after expireSnapshots)
  * fail the restart loudly rather than silently skipping.
  *
  * The read option `from-version` sets the stream's STARTING baseline
  * (default 0 = deliver the whole existing table as the first batch;
  * `latest` = tail only commits after stream start). */
private[graft] class GraftMicroBatchStream(
    store: MetaStore, ns: Seq[String], table: String,
    startVersion: Int,
    delegateScanFor: Seq[String] => Scan,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    delegateScanNamedFor: Option[Seq[String] => Scan] = None)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  /** Per-version file sets, memoized across triggers: versions are
    * immutable, and the admission walk re-visits its baseline (and the
    * stop version) on every trigger — without the cache a catch-up
    * trigger costs O(walked versions) metadata reads EACH time. Bounded:
    * the walk only ever touches a sliding window of versions, so a
    * handful of entries gives full hit rate. */
  private val fileSetCache = new graft.Lru[Int, Seq[String]](bound = 16)

  private def filesAt(v: Int): Seq[String] =
    if (v <= 0) Nil
    else fileSetCache.get(v).getOrElse {
      val snap = store.loadVersion(ns, table, v).currentSnapshot
      // deletes committed MID-STREAM would need retractions the source
      // cannot emit — fail the stream rather than deliver deleted rows
      snap.filter(_.deleteFiles.nonEmpty).foreach { s =>
        throw new UnsupportedOperationException(
          s"streaming read of ${(ns :+ table).mkString(".")}: version $v " +
            s"carries ${s.deleteFiles.size} merge-on-read delete file(s) — " +
            "compact the table to fold them in before streaming")
      }
      val files = snap.map(_.files).getOrElse(Nil)
      fileSetCache.put(v, files)
      files
    }

  /** Version v's delta as an ordered (file, length) list WHEN the commit
    * is a pure append (only new files; nothing removed, no delete files
    * — those already fail [[filesAt]]); None otherwise. Only pure
    * appends may split mid-commit: an overwrite's removed+added files
    * carry joint semantics, so it admits atomically. Memoized like
    * [[fileSetCache]] — the walk re-visits the in-progress commit every
    * trigger. Order comes from the snapshot's stored file list, which
    * is immutable per version, so a slice replays bit-identically. */
  private val appendDeltaCache = new graft.Lru[Int, Option[Seq[(String, Long)]]](bound = 16)
  private def appendDeltaOf(v: Int): Option[Seq[(String, Long)]] =
    appendDeltaCache.get(v).getOrElse {
      val prev = filesAt(v - 1).toSet
      val curF = filesAt(v)
      val delta = if (prev.subsetOf(curF.toSet)) {
        val added = curF.filterNot(prev)
        val lens = ManifestFileIndex.lengthsFor(
          org.apache.spark.sql.SparkSession.active,
          store.dataDir(ns, table), added)
        Some(added.map(r => r -> lens(r)))
      } else None
      appendDeltaCache.put(v, delta)
      delta
    }

  override def initialOffset(): Offset = GraftSourceOffset(startVersion)

  override def latestOffset(): Offset =
    GraftSourceOffset(math.max(startVersion, store.currentVersion(ns, table)))

  /** Admission control: bound how much of a backlog one micro-batch
    * swallows. A stream restarted after downtime (or started at
    * version 0 against a year of commits) would otherwise plan the
    * ENTIRE backlog as a single batch — at 100 TB that is one
    * multi-hour batch whose failure loses all progress. With
    * `max-files-per-trigger` and/or `max-bytes-per-trigger`, the offset
    * walk stops at the last point whose cumulative delta fits EVERY
    * configured budget — and that point can sit INSIDE a pure-append
    * commit (`version:fileIdx` watermark), so even one oversized
    * backfill append paces into bounded micro-batches; non-append
    * commits admit atomically, and at least one file/step always
    * admits so the stream progresses. Bytes come from the manifest
    * length cache ([[ManifestFileIndex.lengthsFor]]) — one listStatus
    * per new commit dir ever, never a per-file stat sweep. */
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit = {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val limits = maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      maxBytesPerTrigger.map(ReadLimit.maxBytes(_)).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  private def deltaBytes(delta: Seq[String]): Long =
    ManifestFileIndex.lengthsFor(org.apache.spark.sql.SparkSession.active,
      store.dataDir(ns, table), delta).values.sum

  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadMaxBytes, ReadMaxFiles}
    val st = GraftSourceOffset.of(start)
    val cur = math.max(startVersion, store.currentVersion(ns, table))
    // Trigger.AvailableNow wraps the default limit in a composite —
    // honor the budgets inside it rather than draining everything
    val limits = limit match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq
      case other => Seq(other)
    }
    val fileCap = limits.collectFirst { case m: ReadMaxFiles => m.maxFiles() }
    val byteCap = limits.collectFirst { case b: ReadMaxBytes => b.maxBytes() }
    if (fileCap.isEmpty && byteCap.isEmpty) return GraftSourceOffset(cur)
    if (cur <= st.version && st.fileIdx == 0) return GraftSourceOffset(cur)
    val (lastFull, extra) = SubCommitWalk.walk(st.version, st.fileIdx, cur,
      fileCap, byteCap, appendDeltaOf,
      atomicCost = { v =>
        val delta = filesAt(v).filterNot(filesAt(v - 1).toSet)
        (delta.size, if (byteCap.isDefined) deltaBytes(delta) else 0L)
      })
    GraftSourceOffset(lastFull, extra)
  }

  override def reportLatestOffset(): Offset =
    GraftSourceOffset(math.max(startVersion, store.currentVersion(ns, table)))

  override def deserializeOffset(json: String): Offset =
    GraftSourceOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val st = GraftSourceOffset.of(start)
    val en = GraftSourceOffset.of(end)
    if (en.version < st.version ||
        (en.version == st.version && en.fileIdx <= st.fileIdx)) return Array.empty
    // snapshot file lists are cumulative under appends, so the set
    // difference IS the delta; recomputing it from immutable versions
    // makes a replayed (uncommitted-at-crash) batch bit-identical.
    // Sub-commit watermarks (fileIdx > 0 — only ever placed inside a
    // pure-append commit by the admission walk) slice that commit's
    // ordered delta list; the orderings are per-version immutable, so
    // replays stay bit-identical.
    def sliceOf(v: Int, from: Int, until: Int): Seq[String] =
      appendDeltaOf(v).getOrElse(throw new IllegalStateException(
        s"sub-commit offset into version $v, which is not a pure append"))
        .map(_._1).slice(from, until)
    val delta: Seq[String] =
      if (st.fileIdx == 0 && en.fileIdx == 0) {
        val baseline = filesAt(st.version).toSet
        filesAt(en.version).filterNot(baseline)
      } else if (st.version == en.version) {
        // both watermarks inside the same giant append
        sliceOf(st.version + 1, st.fileIdx, en.fileIdx)
      } else {
        val head = if (st.fileIdx > 0)
          sliceOf(st.version + 1, st.fileIdx, Int.MaxValue) else Nil
        val base = filesAt(if (st.fileIdx > 0) st.version + 1 else st.version).toSet
        val whole = filesAt(en.version).filterNot(base)
        val tail = if (en.fileIdx > 0)
          sliceOf(en.version + 1, 0, en.fileIdx) else Nil
        head ++ whole ++ tail
      }
    // hive-imported partitioned files serve identity columns from dirs
    // (ImportOverlay on the batch scan); the stream's single shared
    // factory cannot patch per dir group — refuse rather than emit
    // nulls. Compaction stamps the columns in and lifts this.
    require(!delta.exists(r => GraftTable.isImportedRel(r) &&
        PartitionDirs.kvs(r).nonEmpty),
      s"streaming read of ${(ns :+ table).mkString(".")}: batch " +
        s"${st.json()} -> ${en.json()} contains hive-imported partitioned " +
        "files whose " +
        "identity columns live in directories — compact the table first")
    delegateScanFor(delta).toBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the parquet reader factory depends only on schema/filters/conf,
    // never on the file list — an empty delegate yields a factory that
    // reads whatever FilePartitions each batch plans
    val idF = delegateScanFor(Nil).toBatch.createReaderFactory()
    delegateScanNamedFor match {
      // both flavors up front: add_files commits landing MID-STREAM put
      // id-less files into later batches, routed per partition
      case Some(named) => new ImportRoutingReaderFactory(idF,
        named(Nil).toBatch.createReaderFactory(), store.dataDir(ns, table))
      case None => idF
    }
  }

  override def commit(end: Offset): Unit = () // engine-side checkpoint is the ledger

  override def stop(): Unit = ()
}

/** Scan wrapper that adds the micro-batch surface and runtime file
  * pruning while forwarding the batch path (and its statistics, which
  * drive broadcast decisions) untouched to the parquet delegate.
  *
  * Runtime filtering is the DSv2 analog of dynamic partition pruning:
  * on an equi-join whose other side is selective, Catalyst's
  * PartitionPruning rule injects a DynamicPruningSubquery keyed on one
  * of [[filterAttributes]] (the table's partition SOURCE columns), and
  * at execution BatchScanExec hands the subquery's value set here as an
  * `In` filter — [[filter]] folds it into the manifest pruner (partition
  * dirs, transform replay, min/max stats) and rebuilds the delegate over
  * the surviving files, so `fact JOIN dim WHERE dim.region='EU'` reads
  * only the EU partition files of a 100 TB fact table even though the
  * literal predicate never touches the fact side. The same surface also
  * narrows copy-on-write row-level rewrites (Spark's runtime group
  * filtering): `refilter` re-fires the builder's onBuild hook so the
  * rewrite commits exactly the re-pruned affected-file set. */
private[graft] class GraftScan(delegate0: Scan,
                               mkStream: String => MicroBatchStream,
                               runtimeAttrs: Seq[String] = Nil,
                               refilter: Array[org.apache.spark.sql.sources.Filter] => Scan =
                                 _ => null,
                               manifestRows: Option[Long] = None,
                               driverMetrics: () => Seq[(String, Long)] =
                                 () => Nil,
                               reportSchema: Option[StructType] = None)
  extends Scan with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  @volatile private var delegate: Scan = delegate0

  /** The currently-wrapped scan (post any runtime refilter) — plan
    * inspection for tests and diagnostics. */
  private[graft] def currentDelegate: Scan = delegate

  // planning-time counters (see [[ScanMetrics]]); the closure reads the
  // builder's live state, so a runtime refilter's narrowed numbers are
  // what BatchScanExec reports after planning
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    ScanMetrics.supported
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    driverMetrics().map { case (n, v) => ScanMetrics.value(n, v) }.toArray

  /** Forward the key-grouped report when the wrapped scan is a
    * [[KeyedScan]] — planning reads it here (the relation holds THIS
    * scan), and a runtime refilter swaps in another keyed delegate so
    * the re-planned partitions keep their keys. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    delegate match {
      case s: org.apache.spark.sql.connector.read.SupportsReportPartitioning =>
        s.outputPartitioning()
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Forward the sorted-file ordering report the same way — empty from
    * any delegate that can't prove it (the conservative default). */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    delegate match {
      case s: org.apache.spark.sql.connector.read.SupportsReportOrdering =>
        s.outputOrdering()
      case _ => Array.empty
    }

  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] =
    runtimeAttrs.map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    if (filters.nonEmpty) {
      val re = refilter(filters)
      if (re != null) delegate = re
    }

  /** The AUTHORITATIVE read schema: the delegate over imported
    * (id-less) files requests a field-id-STRIPPED schema internally,
    * but the relation's output attributes must keep the table's id
    * metadata — a downstream write (compaction, CTAS) stamps parquet
    * ids from exactly this metadata, and losing it would rewrite the
    * table into id-less files that id-carrying requests refuse. */
  override def readSchema(): StructType =
    reportSchema.getOrElse(delegate.readSchema())
  override def description(): String = delegate.description()
  override def toBatch: Batch = delegate.toBatch
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    delegate.columnarSupportMode()
  /** Delegate statistics overlaid with the manifest row count: the
    * parquet delegate reports bytes only, but broadcast and CBO
    * decisions want cardinality — the harvested per-file counts summed
    * over the PRUNED file list supply it without touching a footer at
    * plan time. */
  override def estimateStatistics(): Statistics = {
    val base: Statistics = delegate match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        s.estimateStatistics()
      case _ => new Statistics {
        override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
      }
    }
    if (base.numRows().isPresent || manifestRows.isEmpty) base
    else new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = base.sizeInBytes()
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(manifestRows.get)
    }
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    mkStream(checkpointLocation)
}
