package graft.catalog

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.meta.{MetaStore, SchemaBridge}

/** `t$changes` — the table's row-level changelog as a DSv2 table, in
  * BOTH batch and streaming form:
  * {{{
  *   spark.read.option("from-version", 3).table("graft.ns.`t$changes`")
  *   spark.readStream.table("graft.ns.`t$changes`")   // CDC stream
  * }}}
  * Rows are the base table's columns plus `_change_type`
  * ('insert' | 'delete') and `_commit_version`. Unlike the data-table
  * stream (which refuses merge-on-read deletes because it cannot
  * retract), the changelog EMITS deletes as rows — so a downstream sync
  * can tail mutations continuously. By default this is the
  * Iceberg-style raw changelog (additions and removals, no pairing);
  * with the `pair-updates` read option a same-commit mask+re-insert of
  * one key emits as update_preimage/postimage, matching the batch
  * [[Changes]] API exactly.
  *
  * Scale shape: the driver touches only metadata (file lists and
  * bounded delete-key sets — the same broadcast-class byte budget as
  * the MoR scan); all row work happens in executors. Equality-delete commits
  * turn into scan partitions over the PRIOR snapshot's kept files with
  * a serialized match-these-keys predicate — rows already masked by
  * earlier deletes are subtracted by the same predicate machinery, so a
  * re-delete of a dead key emits nothing (no joins inside the scan). */
private[graft] object ChangesTable {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  def widen(schema: StructType): StructType =
    StructType(schema.fields ++ Seq(
      StructField(ChangeTypeCol, StringType, nullable = false),
      StructField(CommitVersionCol, IntegerType, nullable = false)))

  /** Parquet delegate scan over explicit relative files, full schema,
    * field-id column resolution on (renamed columns still serve).
    * Windows touching IMPORTED (id-less) files request by name instead
    * — sound under the add_files rename guards, which hold for every
    * retained version a changelog window can cover. */
  def delegateScan(s: SparkSession, dataDir: String, rels: Seq[String],
                   schema: StructType,
                   options: CaseInsensitiveStringMap,
                   forceNamed: Boolean = false): Scan = {
    val reqSchema =
      if (forceNamed || rels.exists(GraftTable.isImportedRel))
        SchemaBridge.stripFieldIds(schema)
      else schema
    // same manifest-backed planning as the data scans: a deep changelog
    // replay walks many steps, and each step must not re-stat its files
    val b = org.apache.spark.sql.execution.datasources.v2.parquet
      .ParquetScanBuilder(s,
        new ManifestFileIndex(s, ManifestFileIndex.statusesFor(s, dataDir, rels)),
        reqSchema, reqSchema, GraftTable.fieldIdOptions(options))
    b.pruneColumns(reqSchema)
    b.build()
  }

  /** The metadata-level diff of one version step v-1 → v; None when the
    * commit changed no rows (same snapshot, or a layout-only compaction).
    * The ONE derivation shared by [[Changes]] (the pairing batch API)
    * and [[ChangesTable]] (the scan surface) — their semantics must
    * never drift apart. */
  final case class StepDiff(
      added: Seq[String], removed: Seq[String], kept: Seq[String],
      newDeletes: Seq[graft.meta.DeleteFileDef],
      prevDeletes: Seq[graft.meta.DeleteFileDef],
      prevFileSeqs: Map[String, Long])

  def stepDiff(meta: graft.meta.TableMetadata,
               prevMeta: Option[graft.meta.TableMetadata]): Option[StepDiff] = {
    val snap = meta.currentSnapshot
    val prevSnap = prevMeta.flatMap(_.currentSnapshot)
    if (snap.map(_.snapshotId) == prevSnap.map(_.snapshotId)) return None
    if (snap.exists(_.summary.get("rewrite-kind").contains("compaction")))
      return None
    val files = snap.map(_.files).getOrElse(Nil)
    val prevFiles = prevSnap.map(_.files).getOrElse(Nil)
    val prevDeletes = prevSnap.map(_.deleteFiles).getOrElse(Nil)
    Some(StepDiff(
      added = files.filterNot(prevFiles.toSet),
      removed = prevFiles.filterNot(files.toSet),
      kept = prevFiles.filter(files.toSet),
      newDeletes = {
        val before = prevDeletes.map(_.path).toSet
        snap.map(_.deleteFiles).getOrElse(Nil).filterNot(d => before(d.path))
      },
      prevDeletes = prevDeletes,
      prevFileSeqs = prevSnap.map(_.fileSeqs).getOrElse(Map.empty)))
  }

  /** `max-files-per-trigger` / `maxFilesPerTrigger` read-option parsing
    * with validation — shared by the data stream and the changelog
    * stream so a typo'd value fails identically on both. */
  def parseMaxFilesPerTrigger(options: CaseInsensitiveStringMap): Option[Int] =
    Seq("maxFilesPerTrigger", "max-files-per-trigger")
      .flatMap(k => Option(options.get(k))).headOption.map { v =>
        val n = try v.trim.toInt catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"maxFilesPerTrigger must be a positive integer, got '$v'")
        }
        require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
        n
      }

  /** `max-bytes-per-trigger` / `maxBytesPerTrigger`: plain byte count or
    * a k/m/g-suffixed size string ("128m"). The file budget bounds
    * DRIVER planning work; this bounds the EXECUTOR data volume one
    * micro-batch scans — the knob an operator actually reasons in when
    * commit sizes vary by 1000× (one streaming-sink epoch vs one bulk
    * backfill commit). */
  def parseMaxBytesPerTrigger(options: CaseInsensitiveStringMap): Option[Long] =
    Seq("maxBytesPerTrigger", "max-bytes-per-trigger")
      .flatMap(k => Option(options.get(k))).headOption.map { v =>
        val m = "(?i)^(\\d+)\\s*([kmg]?)b?$".r
        val n = v.trim match {
          case m(digits, suffix) =>
            val shift = suffix.toLowerCase match {
              case "" => 0; case "k" => 10; case "m" => 20; case "g" => 30
            }
            try java.lang.Math.multiplyExact(digits.toLong, 1L << shift)
            catch { case _: ArithmeticException | _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"maxBytesPerTrigger overflows a long: '$v'")
            }
          case other => throw new IllegalArgumentException(
            s"maxBytesPerTrigger must be a byte count (optionally k/m/g-" +
              s"suffixed), got '$other'")
        }
        require(n > 0, s"maxBytesPerTrigger must be positive, got $n")
        n
      }

  /** The stream's starting BASELINE version from read options — shared
    * by the data stream and the changelog stream. `from-version`
    * (integer, or 'latest' = tail only commits after stream start) and
    * `starting-timestamp` (ISO-8601 instant or epoch millis — commits
    * AFTER the instant stream; the baseline is the largest version
    * committed at or before it, resolved by metadata-file mtime exactly
    * like `TIMESTAMP AS OF`) are mutually exclusive; neither = 0 (the
    * whole existing table is the first batch). */
  def resolveStartVersion(store: MetaStore, ns: Seq[String], table: String,
                          options: CaseInsensitiveStringMap,
                          tableName: String): Int = {
    val fromV = Option(options.get("from-version"))
    val fromTs = Option(options.get("starting-timestamp"))
    require(fromV.isEmpty || fromTs.isEmpty,
      s"read options from-version and starting-timestamp are mutually " +
        s"exclusive (table $tableName)")
    fromV match {
      case Some(v) if v.equalsIgnoreCase("latest") =>
        store.currentVersion(ns, table)
      case Some(v) =>
        try v.trim.toInt catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"read option from-version must be an integer metadata " +
              s"version or 'latest', got '$v' (table $tableName)")
        }
      case None => fromTs match {
        case None => 0
        case Some(raw) =>
          versionAtInstant(store, ns, table, parseInstantMs(raw.trim, tableName))
      }
    }
  }

  /** The changelog window's CLOSING version from read options:
    * `to-version` (integer) or `ending-timestamp` (same instant forms
    * as `starting-timestamp`; the window closes at the largest version
    * committed at or before it), mutually exclusive; neither = the
    * current version. Batch surface only — a stream has no end. */
  def resolveEndVersion(store: MetaStore, ns: Seq[String], table: String,
                        options: CaseInsensitiveStringMap,
                        tableName: String): Int = {
    val toV = Option(options.get("to-version"))
    val toTs = Option(options.get("ending-timestamp"))
    require(toV.isEmpty || toTs.isEmpty,
      s"read options to-version and ending-timestamp are mutually " +
        s"exclusive (table $tableName)")
    toV match {
      case Some(v) =>
        try v.trim.toInt catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"to-version must be an integer metadata version, got '$v' " +
              s"(table $tableName)")
        }
      case None => toTs match {
        case None => store.currentVersion(ns, table)
        case Some(raw) =>
          versionAtInstant(store, ns, table, parseInstantMs(raw.trim, tableName))
      }
    }
  }

  /** Largest version committed at or before the instant, resolved by
    * metadata-file mtime exactly like `TIMESTAMP AS OF`. Expired
    * versions (metadata file gone) yield no mtime and don't qualify —
    * the result falls back toward 0, which as a BASELINE only ever
    * delivers MORE history, never skips commits. */
  private def versionAtInstant(store: MetaStore, ns: Seq[String],
                               table: String, tsMs: Long): Int =
    (1 to store.currentVersion(ns, table)).filter { v =>
      store.lastModifiedMs(store.metadataLocation(ns, table, v))
        .exists(_ <= tsMs)
    }.maxOption.getOrElse(0)

  private def parseInstantMs(raw: String, tableName: String): Long =
    if (raw.nonEmpty && raw.forall(_.isDigit)) raw.toLong
    else try java.time.Instant.parse(raw).toEpochMilli
    catch { case _: java.time.format.DateTimeParseException =>
      try java.time.LocalDateTime
        .parse(raw.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      catch { case _: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"read option starting-timestamp must be epoch millis or an " +
            s"ISO-8601 instant (e.g. 2026-01-01T00:00:00Z), got '$raw' " +
            s"(table $tableName)")
      }
    }

  /** One predicate per delete file, loaded once on the driver and
    * memoized in the CALLER-owned cache (delete files are immutable —
    * a stream or multi-version window must not re-collect them per
    * step). The cache is an optimization with a memory ceiling, NOT a
    * correctness bound: when its total held rows would pass the MoR
    * guard it is simply cleared (a long-lived stream on an
    * upsert-then-compact table accumulates DEAD delete files here — a
    * hard failure would demand a compaction that cannot clear the
    * cache). The live-set bound is enforced per step in
    * [[stepPartitions]], mirroring the MoR scan's semantics. */
  def predicateOf(s: SparkSession, dataDir: String, schema: StructType,
                  cache: scala.collection.mutable.Map[String, MorPredicate],
                  df: graft.meta.DeleteFileDef): MorPredicate =
    cache.getOrElseUpdate(df.path, {
      // ceiling in estimated bytes (~32B/boxed key) — same unit as the
      // MoR scan's broadcast-class budget, so the cache never holds more
      // than one budget's worth of keys
      val cachedBytes = cache.values.map(_.keys.size.toLong * 32L).sum
      if (cachedBytes + MergeOnRead.estBytes(df) >
          MergeOnRead.DefaultDeleteByteBudget) cache.clear()
      val names = df.keyFieldIds.map(MergeOnRead.nameOfFieldId(schema, _))
      val keySchema = StructType(names.map(n =>
        schema.fields(schema.fieldIndex(n))))
      val rows = GraftTable.idReader(s).schema(keySchema).parquet(s"$dataDir/${df.path}")
        .collect()
      val keys = rows.map(r => (0 until keySchema.length)
        .map(i => r.get(i)).toList: List[Any]).toSet
      val ords = names.map(schema.fieldIndex).toArray
      MorPredicate(ords, ords.map(schema.fields(_).dataType), keys)
    })

  /** Typed compare of a manifest stat string against a key value; None =
    * incomparable (never prune on it). Key types are the exact-render
    * set, so long/string cover everything but boolean (which never
    * constrains). Strings compare as UNSIGNED UTF-8 bytes — the order
    * parquet chose the harvested min/max under — never UTF-16
    * `String.compareTo`, whose order diverges for [U+E000, U+FFFF] vs
    * supplementary characters and would let a key sit inside the file
    * but outside the computed [min, max]. */
  private def cmpStat(dt: DataType, stat: String, v: Any): Option[Int] = try {
    dt match {
      case IntegerType | LongType | ShortType | ByteType =>
        Some(java.lang.Long.compare(stat.toLong, String.valueOf(v).toLong))
      case StringType if v != null =>
        Some(java.util.Arrays.compareUnsigned(utf8(stat), utf8(v.toString)))
      case _ => None
    }
  } catch { case _: Exception => None }

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** A per-column probe set prepared once (sorted), answering "could
    * ANY candidate value sit inside this file's [min, max]?" in
    * O(log K) per file instead of O(K) comparisons — keptCandidates
    * runs on every merge-on-read scan build, against key sets that can
    * reach the delete byte budget (millions). Any unparseable or null
    * value degrades the WHOLE probe to always-true: pruning is an
    * optimization, never a bet. */
  private sealed trait Probe {
    def anyInRange(min: String, max: String): Boolean
  }
  private case object AlwaysProbe extends Probe {
    override def anyInRange(min: String, max: String): Boolean = true
  }
  private final class LongProbe(sorted: Array[Long]) extends Probe {
    override def anyInRange(min: String, max: String): Boolean = try {
      val lo = min.toLong
      val hi = max.toLong
      var i = java.util.Arrays.binarySearch(sorted, lo)
      if (i < 0) i = -i - 1
      i < sorted.length && sorted(i) <= hi
    } catch { case _: Exception => true }
  }
  private val UnsignedBytes = new java.util.Comparator[Array[Byte]] {
    override def compare(a: Array[Byte], b: Array[Byte]): Int =
      java.util.Arrays.compareUnsigned(a, b)
  }
  private final class BytesProbe(sorted: Array[Array[Byte]]) extends Probe {
    override def anyInRange(min: String, max: String): Boolean = {
      val lo = utf8(min)
      val hi = utf8(max)
      var i = java.util.Arrays.binarySearch(
        sorted.asInstanceOf[Array[Object]], lo,
        UnsignedBytes.asInstanceOf[java.util.Comparator[Object]])
      if (i < 0) i = -i - 1
      i < sorted.length && UnsignedBytes.compare(sorted(i), hi) <= 0
    }
  }
  private def probeOf(dt: DataType, values: Iterable[Any]): Probe = dt match {
    case IntegerType | LongType | ShortType | ByteType =>
      val out = new Array[Long](values.size)
      var i = 0
      for (v <- values) {
        v match {
          case b: Byte => out(i) = b.toLong
          case s: Short => out(i) = s.toLong
          case x: Int => out(i) = x.toLong
          case l: Long => out(i) = l
          case _ => return AlwaysProbe
        }
        i += 1
      }
      java.util.Arrays.sort(out)
      new LongProbe(out)
    case StringType =>
      val out = new Array[Array[Byte]](values.size)
      var i = 0
      for (v <- values) {
        v match {
          case s: String => out(i) = utf8(s)
          case _ => return AlwaysProbe
        }
        i += 1
      }
      java.util.Arrays.sort(out.asInstanceOf[Array[Object]],
        UnsignedBytes.asInstanceOf[java.util.Comparator[Object]])
      new BytesProbe(out)
    case _ => AlwaysProbe
  }

  /** The kept files that could possibly hold ANY of this commit's delete
    * keys, judged per file by its harvested identifier-column [min, max]
    * against the actual (budget-bounded, already-collected) key values.
    * This is what keeps "upsert 1k fresh keys into a 100 TB table" from
    * re-scanning every kept file per changelog step: files whose key
    * range cannot contain a single deleted key plan no partitions. A
    * file without stats, a stat-less column, or an incomparable type is
    * always a candidate — pruning is an optimization, never a bet.
    * Multi-column keys prune per column independently (conservative). */
  def keptCandidates(kept: Seq[String],
                     fileStats: Map[String, List[graft.meta.ColStatDef]],
                     schema: StructType,
                     newDeletes: Seq[graft.meta.DeleteFileDef],
                     keysOf: graft.meta.DeleteFileDef => Set[List[Any]])
      : Seq[String] = {
    // per delete file: the per-column (field id, name, sorted probe) —
    // built once, then O(log K) per candidate file
    val groups = newDeletes.map { d =>
      val keys = keysOf(d)
      d.keyFieldIds.zipWithIndex.map { case (id, i) =>
        val n = MergeOnRead.nameOfFieldId(schema, id)
        (id, n, probeOf(schema.fields(schema.fieldIndex(n)).dataType,
          keys.view.map(_.apply(i)).toSeq))
      }
    }
    def statFor(stats: List[graft.meta.ColStatDef], id: Int, n: String) =
      stats.find(_.fieldId.contains(id))
        .orElse(stats.find(s => s.fieldId.isEmpty && s.name == n))
    kept.filter { rel =>
      fileStats.get(rel) match {
        case None => true
        case Some(st) => groups.exists { cols =>
          cols.forall { case (id, n, probe) =>
            statFor(st, id, n) match {
              case None => true
              case Some(s) => probe.anyInRange(s.min, s.max)
            }
          }
        }
      }
    }
  }

  /** Bloom refinement of [[keptCandidates]]: candidates that survived
    * [min,max] are checked against the parquet bloom filters the writer
    * declared (`write.parquet.bloom-filter-columns`) on identifier
    * columns — a file none of whose row-group blooms could contain ANY
    * deleted key is dropped from the masked re-read. One footer open
    * per candidate, driver-side, only when blooms are declared; every
    * uncertainty keeps the file (renamed physical columns, missing
    * blooms, null or boolean keys, unreadable footers). */
  def bloomPrune(s: SparkSession, dataDir: String,
                 props: Map[String, String], schema: StructType,
                 candidates: Seq[String],
                 newDeletes: Seq[graft.meta.DeleteFileDef],
                 keysOf: graft.meta.DeleteFileDef => Set[List[Any]])
      : Seq[String] = {
    val declared = MergeOnRead.declaredBloomCols(props)
    if (declared.isEmpty || candidates.isEmpty) return candidates
    // only pay footer reads when EVERY key column carries a declared
    // bloom; a partially-covered key could occasionally prove absence
    // through its covered columns, but rarely enough to buy the I/O
    if (!MergeOnRead.keyColNames(newDeletes, schema).forall(declared))
      return candidates
    val groups = MergeOnRead.keyColumnGroups(newDeletes, schema, keysOf)
    val hconf = s.sessionState.newHadoopConf()
    // memoized + fanned-out verdicts: changelog windows revisit the
    // same (file, delete set) pairs on every step re-derivation
    val mayHold = MergeOnRead.bloomVerdicts(dataDir, candidates,
      newDeletes.map(_.path).sorted.mkString(","), groups, hconf)
    candidates.filter(mayHold)
  }

  /** Range-overlap variant of [[keptCandidates]] for callers that keep
    * delete keys DISTRIBUTED (the batch [[Changes]] feed): compares each
    * kept file's identifier [min, max] against the delete FILES' footer
    * [min, max] — two O(KB) footer reads per delete file, zero key
    * materialization. Coarser than exact membership (interval overlap),
    * still eliminates the common "recent upsert vs old files" re-read. */
  def keptCandidatesByRange(kept: Seq[String],
                            fileStats: Map[String, List[graft.meta.ColStatDef]],
                            schema: StructType,
                            delStats: Seq[(List[Int], List[graft.meta.ColStatDef])])
      : Seq[String] = {
    def statFor(stats: List[graft.meta.ColStatDef], id: Int, n: String) =
      stats.find(_.fieldId.contains(id))
        .orElse(stats.find(s => s.fieldId.isEmpty && s.name == n))
    kept.filter { rel =>
      fileStats.get(rel) match {
        case None => true
        case Some(st) => delStats.exists { case (ids, ds) =>
          ids.forall { id =>
            val n = MergeOnRead.nameOfFieldId(schema, id)
            val dt = schema.fields(schema.fieldIndex(n)).dataType
            (statFor(st, id, n), statFor(ds, id, n)) match {
              case (Some(f), Some(d)) =>
                // disjoint iff file.max < del.min or file.min > del.max
                !(cmpStat(dt, f.max, d.min).exists(_ < 0) ||
                  cmpStat(dt, f.min, d.max).exists(_ > 0))
              case _ => true
            }
          }
        }
      }
    }
  }

  /** rel → identity-overlay constants fn of one version (hive-imported
    * partitioned files serve identity columns from their dirs) — shared
    * by [[stepPartitions]] and [[appendPartitions]]. */
  private def overlayFn(meta: graft.meta.TableMetadata,
                        schema: StructType): String => Seq[(Int, Any)] = {
    val identCols: Seq[String] = meta.specs
      .find(_.specId == meta.defaultSpecId).map(_.fields).getOrElse(Nil)
      .filter(_.transform == "identity")
      .flatMap(f => graft.meta.SchemaBridge.idNames(meta.currentSchema)
        .get(f.sourceId))
    rel =>
      if (identCols.isEmpty || !GraftTable.isImportedRel(rel)) Nil
      else ImportOverlay.constsFor(rel, schema, identCols)
  }

  /** Insert partitions for an explicit subset of one PURE-APPEND step's
    * added files — the unit of the stream's sub-commit pacing
    * (max-bytes/files-per-trigger splitting WITHIN one giant append
    * commit). Mirrors [[stepPartitions]]' insert branch exactly,
    * overlay grouping included; a pure append has no pairing and no
    * subtraction, which is precisely why a file subset is
    * independently emittable. */
  def appendPartitions(s: SparkSession, store: MetaStore, ns: Seq[String],
                       table: String, schema: StructType,
                       options: CaseInsensitiveStringMap,
                       v: Int, files: Seq[String]): Seq[InputPartition] = {
    if (files.isEmpty) return Nil
    val meta = store.loadVersion(ns, table, v)
    val dataDir = store.dataDir(ns, table)
    val overlayFor = overlayFn(meta, schema)
    files.groupBy(overlayFor).toSeq
      .sortBy(_._2.headOption.getOrElse(""))
      .flatMap { case (ovr, gfs) =>
        val spec = ChangeSpec(Nil, Nil, "insert", v,
          schema.fields.map(_.dataType), Nil, "", ovr)
        delegateScan(s, dataDir, gfs, schema, options)
          .toBatch.planInputPartitions()
          .map(p => ChangeInputPartition(p, spec): InputPartition)
      }
  }

  /** Over-budget delete commits on the STREAM: the step's changelog is
    * computed by the batch feed's fully distributed plan
    * ([[Changes.windowFrame]] — the same fallback [[ChangelogDeleteJoin]]
    * gives batch reads), materialized ONCE under the stream's checkpoint
    * (write-once: a _SUCCESS-stamped spill is reused, so trigger
    * retries and offset replays re-read identical bytes), and served as
    * plain parquet partitions through [[SpillChangeInputPartition]].
    * Driver memory stays bounded — no key collection anywhere; the
    * delete subtraction runs as shuffle joins inside the spill job,
    * sized by AQE to the data. The label mapping mirrors
    * [[ChangelogDeleteJoin.rewrite]] exactly, so the spilled rows equal
    * the scan surface's own under either labeling scheme. */
  def spillStepPartitions(s: SparkSession, store: MetaStore, ns: Seq[String],
                          table: String, schema: StructType,
                          options: CaseInsensitiveStringMap,
                          ckpt: String, v: Int): Seq[InputPartition] = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{col, lit, when}
    val wide = widen(schema)
    val dir = s"$ckpt/graft-changelog-spill/v$v"
    val root = new Path(dir)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(new Path(root, "_SUCCESS"))) {
      val frame0 = Changes.windowFrame(s, store, ns, table, v - 1, Some(v))
      val frame =
        if (pairUpdates(options)) frame0
        else frame0.withColumn(ChangeTypeCol,
          when(col(ChangeTypeCol) === "update_preimage", lit("delete"))
            .when(col(ChangeTypeCol) === "update_postimage", lit("insert"))
            .otherwise(col(ChangeTypeCol)))
      frame.select(wide.fieldNames.toSeq.map(col): _*)
        .write.mode("overwrite").parquet(dir)
    }
    val statuses = fs.listStatus(root).filter(st => st.isFile &&
      st.getPath.getName.endsWith(".parquet") && st.getLen > 0)
    val req = SchemaBridge.stripFieldIds(wide) // self-written files: by name
    val b = org.apache.spark.sql.execution.datasources.v2.parquet
      .ParquetScanBuilder(s, new ManifestFileIndex(s, statuses), req, req,
        options)
    b.pruneColumns(req)
    b.build().toBatch.planInputPartitions()
      .map(ip => SpillChangeInputPartition(ip): InputPartition).toSeq
  }

  /** The partitions of one version step v-1 → v (empty when the commit
    * changed no rows). Driver-side: metadata + bounded key-set reads.
    * `spillCkpt` is the streaming fallback root for over-budget delete
    * commits ([[spillStepPartitions]]); batch reads pass None and keep
    * the refusal (their distributed fallback is the
    * [[ChangelogDeleteJoin]] logical rewrite). */
  def stepPartitions(s: SparkSession, store: MetaStore, ns: Seq[String],
                     table: String, schema: StructType,
                     options: CaseInsensitiveStringMap,
                     keyCache: scala.collection.mutable.Map[String, MorPredicate],
                     v: Int, spillCkpt: Option[String] = None): Seq[InputPartition] = {
    val meta = store.loadVersion(ns, table, v)
    val prevMeta = if (v - 1 >= 1) Some(store.loadVersion(ns, table, v - 1)) else None
    val diff = stepDiff(meta, prevMeta).getOrElse(return Nil)
    val dataDir = store.dataDir(ns, table)

    // a table's delete files are one flavor at a time by construction
    // (equality needs identifier fields, position requires their
    // absence) — a mix would need cross-flavor subtraction
    val (posNew, eqNew) = diff.newDeletes.partition(_.keyFieldIds.isEmpty)
    val (posPrev, eqPrev) = diff.prevDeletes.partition(_.keyFieldIds.isEmpty)
    require((posNew ++ posPrev).isEmpty || (eqNew ++ eqPrev).isEmpty,
      s"version $v mixes equality and position delete files — compact first")
    if ((posNew ++ posPrev).nonEmpty)
      return positionStepPartitions(s, dataDir, schema, meta.properties,
        options, diff, posNew, posPrev, v)

    // live-set bound, per step (same semantics as the MoR scan's guard:
    // the deletes THIS step can touch, not a lifetime cumulative total),
    // budgeted in bytes of delete files like the scan's broadcast budget
    val liveBytes = (diff.newDeletes ++ diff.prevDeletes)
      .map(MergeOnRead.estBytes).sum
    val budget = MergeOnRead.byteBudget(meta.properties)
    if (liveBytes > budget && spillCkpt.isDefined)
      return spillStepPartitions(s, store, ns, table, schema, options,
        spillCkpt.get, v)
    require(liveBytes <= budget,
      s"version $v carries $liveBytes bytes of live delete files — over " +
        s"the changelog budget ($budget); batch reads plan a distributed " +
        "join when graft.functions.GraftExtensions is installed " +
        "(spark.sql.extensions)")

    def pred(df: graft.meta.DeleteFileDef): MorPredicate =
      predicateOf(s, dataDir, schema, keyCache, df)

    def priorApplicableDefs(rel: String): Seq[graft.meta.DeleteFileDef] = {
      val seq = diff.prevFileSeqs.getOrElse(rel, 0L)
      diff.prevDeletes.filter(_.seq > seq)
    }
    def priorApplicable(rel: String): Seq[MorPredicate] =
      priorApplicableDefs(rel).map(pred)

    // hive-imported partitioned files serve identity columns from
    // their dirs (never the footers) — sub-split every file group by
    // its overlay constants so one partition never mixes values
    val overlayFor: String => Seq[(Int, Any)] = overlayFn(meta, schema)

    def group(groups: Seq[(Seq[MorPredicate], Seq[String])], label: String,
              matchAny: Seq[MorPredicate],
              pairWith: Seq[MorPredicate] = Nil, pairLabel: String = "")
        : Seq[InputPartition] =
      groups.sortBy(_._2.headOption.getOrElse(""))
        .flatMap { case (subtract, fs) =>
          fs.groupBy(overlayFor).toSeq
            .sortBy(_._2.headOption.getOrElse(""))
            .flatMap { case (ovr, gfs) =>
              val spec = ChangeSpec(matchAny, subtract, label, v,
                schema.fields.map(_.dataType), pairWith, pairLabel, ovr)
              delegateScan(s, dataDir, gfs, schema, options)
                .toBatch.planInputPartitions()
                .map(p => ChangeInputPartition(p, spec): InputPartition)
            }
        }

    // key-stats pruning: only kept files whose identifier [min,max] can
    // hold a deleted key get masked-re-read partitions
    val candidates =
      if (diff.newDeletes.isEmpty) Nil
      else bloomPrune(s, dataDir, meta.properties, schema,
        keptCandidates(diff.kept,
          meta.currentSnapshot.map(_.fileStats).getOrElse(Map.empty),
          schema, diff.newDeletes, d => pred(d).keys),
        diff.newDeletes, d => pred(d).keys)

    // `pair-updates`: label a same-commit mask + re-insert of one key as
    // update_preimage/postimage (the batch Changes API's semantics) so
    // the two CDC surfaces agree EXACTLY. The two pairing sets are both
    // subsets of this commit's (budget-bounded) delete keys, computed by
    // one bounded planning-time job each:
    //   preimage keys  = delete keys that reappear in the ADDED files;
    //   postimage keys = delete keys with a LIVE prior row (a first-time
    //     upsert key masked nothing — its insert must stay an insert,
    //     and a key already dead from an earlier delete pairs with no
    //     phantom preimage).
    val (pairPre, pairPost): (Seq[MorPredicate], Seq[MorPredicate]) =
      if (!pairUpdates(options) || diff.newDeletes.isEmpty || diff.added.isEmpty)
        (Nil, Nil)
      else {
        import org.apache.spark.sql.functions.{broadcast, col}
        val byIds = diff.newDeletes.groupBy(_.keyFieldIds).toSeq
          .sortBy(_._1.mkString(","))
        val prePost = byIds.map { case (ids, dfs) =>
          val names = ids.map(MergeOnRead.nameOfFieldId(schema, _))
          def fieldOf(n: String) = schema.fields(schema.fieldIndex(n))
          val keySchema = StructType(names.map(fieldOf))
          def collectKeys(df: org.apache.spark.sql.DataFrame): Set[List[Any]] =
            df.select(names.map(col): _*).distinct().collect()
              .map(r => (0 until names.length).map(r.get).toList: List[Any]).toSet
          val newKeys = GraftTable.idReader(s).schema(keySchema)
            .parquet(dfs.map(d => s"$dataDir/${d.path}"): _*).distinct()
          val aKeys =
            if (diff.added.isEmpty) Set.empty[List[Any]]
            else collectKeys(GraftTable.idReader(s).schema(keySchema)
              .parquet(diff.added.map(r => s"$dataDir/$r"): _*)
              .join(broadcast(newKeys), names, "leftsemi"))
          val bKeys =
            if (candidates.isEmpty) Set.empty[List[Any]]
            else collectKeys(candidates.groupBy(priorApplicableDefs).toSeq
              .sortBy(_._2.headOption.getOrElse(""))
              .map { case (earlier, fs) =>
                // read the union of this id set's and the earlier
                // deletes' key columns, subtract earlier-dead keys, then
                // keep only rows this commit's deletes mask
                val allNames =
                  (names ++ earlier.flatMap(_.keyFieldIds).distinct
                    .map(MergeOnRead.nameOfFieldId(schema, _))).distinct
                val base = GraftTable.idReader(s)
                  .schema(StructType(allNames.map(fieldOf)))
                  .parquet(fs.map(r => s"$dataDir/$r"): _*)
                earlier.groupBy(_.keyFieldIds).toSeq
                  .sortBy(_._1.mkString(","))
                  .foldLeft(base) { case (acc, (eIds, eDfs)) =>
                    val eNames = eIds.map(MergeOnRead.nameOfFieldId(schema, _))
                    val eKeys = GraftTable.idReader(s)
                      .schema(StructType(eNames.map(fieldOf)))
                      .parquet(eDfs.map(d => s"$dataDir/${d.path}"): _*)
                      .distinct()
                    acc.join(broadcast(eKeys), eNames, "left_anti")
                  }
                  .join(broadcast(newKeys), names, "leftsemi")
              }.reduce(_ unionByName _))
          val ords = names.map(schema.fieldIndex).toArray
          val types = ords.map(schema.fields(_).dataType)
          (MorPredicate(ords, types, aKeys), MorPredicate(ords, types, bKeys))
        }
        (prePost.map(_._1), prePost.map(_._2))
      }

    // added files carry THIS commit's sequence — no prior delete ever
    // applies to them (subtracting would suppress the re-insert of a
    // previously deleted key)
    val inserts =
      if (diff.added.isEmpty) Nil
      else group(Seq((Nil, diff.added)), "insert", Nil,
        pairPost, "update_postimage")
    // removed/kept files predate this commit: rows already masked by an
    // EARLIER delete died then, and must not re-emit here
    def bySubtract(rels: Seq[String]) = rels.groupBy(priorApplicable).toSeq
    val hardDeletes = group(bySubtract(diff.removed), "delete", Nil)
    val maskedDeletes =
      if (diff.newDeletes.isEmpty) Nil
      else group(bySubtract(candidates), "delete", diff.newDeletes.map(pred),
        pairPre, "update_preimage")
    inserts ++ hardDeletes ++ maskedDeletes
  }

  /** `pair-updates` read option: emit same-commit mask+re-insert as
    * update_preimage/postimage in the scan surface (default false — the
    * Iceberg-style raw changelog). */
  def pairUpdates(options: CaseInsensitiveStringMap): Boolean =
    Seq("pair-updates", "pairUpdates")
      .flatMap(k => Option(options.get(k))).headOption
      .exists(_.trim.toBoolean)

  /** Load position-delete files into (rel → dead positions) — driver,
    * bounded by the byte budget the caller already enforced. */
  def posMapOf(s: SparkSession, dataDir: String,
               dfs: Seq[graft.meta.DeleteFileDef]): Map[String, Set[Long]] =
    if (dfs.isEmpty) Map.empty
    else {
      val posSchema = StructType(Seq(StructField("file", StringType),
        StructField("pos", LongType)))
      s.read.schema(posSchema)
        .parquet(dfs.map(d => s"$dataDir/${d.path}"): _*)
        .collect()
        .groupBy(_.getString(0))
        .map { case (rel, rows) => rel -> rows.map(_.getLong(1)).toSet }
    }

  // length arrives from the manifest layer's memoized cache
  // (ManifestFileIndex.lengthsFor) — a per-file driver getFileStatus
  // here was the r7 scale finding (position-CDC planning over a step
  // with many dirty files would serialize one NameNode RPC per file)
  private def wholeFilePartition(dataDir: String,
                                 rel: String, idx: Int,
                                 len: Long): InputPartition = {
    val abs = s"$dataDir/$rel"
    org.apache.spark.sql.execution.datasources.FilePartition(idx, Array(
      org.apache.spark.sql.execution.datasources.PartitionedFile(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPathString(abs),
        0L, len, Array.empty, 0L, len)))
  }

  /** One version step of a POSITION-flavored table (keyless DELETEs):
    * added files emit inserts as usual; a removed file's still-live rows
    * (all minus previously-dead positions) emit as deletes; kept files
    * the commit marked emit exactly the NEWLY-dead positions. Positional
    * emission reads whole files through counting readers — a split or a
    * pushed row-group skip would shift every position. No pairing: a
    * keyless table has no identity to pair an update through. */
  def positionStepPartitions(s: SparkSession, dataDir: String,
                             schema: StructType, props: Map[String, String],
                             options: CaseInsensitiveStringMap,
                             diff: StepDiff,
                             posNew: Seq[graft.meta.DeleteFileDef],
                             posPrev: Seq[graft.meta.DeleteFileDef],
                             v: Int): Seq[InputPartition] = {
    val liveBytes = (posNew ++ posPrev).map(MergeOnRead.estBytes).sum
    val budget = MergeOnRead.byteBudget(props)
    require(liveBytes <= budget,
      s"version $v carries $liveBytes bytes of live position-delete files " +
        s"— over the changelog budget ($budget); batch reads plan a " +
        "distributed join when graft.functions.GraftExtensions is installed " +
        "(spark.sql.extensions); for streaming, compact the table first")
    val newPos = posMapOf(s, dataDir, posNew)
    val prevPos = posMapOf(s, dataDir, posPrev)
    val colTypes = schema.fields.map(_.dataType)
    def spec(label: String) = ChangeSpec(Nil, Nil, label, v, colTypes)

    val inserts: Seq[InputPartition] =
      if (diff.added.isEmpty) Nil
      else delegateScan(s, dataDir, diff.added, schema, options)
        .toBatch.planInputPartitions()
        .map(p => ChangeInputPartition(p, spec("insert")): InputPartition).toSeq
    // removed files untouched by any prior position delete keep the
    // plain (splittable) delegate path
    val (removedDirty, removedClean) =
      diff.removed.partition(prevPos.contains)
    val hardClean: Seq[InputPartition] =
      if (removedClean.isEmpty) Nil
      else delegateScan(s, dataDir, removedClean, schema, options)
        .toBatch.planInputPartitions()
        .map(p => ChangeInputPartition(p, spec("delete")): InputPartition).toSeq
    val maskedRels = diff.kept.filter(newPos.contains).sorted
    // one memoized length lookup covers every whole-file partition of
    // this step — zero filesystem metadata calls in the steady state
    val lens = ManifestFileIndex.lengthsFor(s, dataDir,
      removedDirty ++ maskedRels)
    val hardDirty = removedDirty.sorted.zipWithIndex.map { case (rel, i) =>
      PosChangeInputPartition(wholeFilePartition(dataDir, rel, i, lens(rel)),
        None, prevPos(rel), spec("delete")): InputPartition
    }
    val masked = maskedRels.zipWithIndex
      .flatMap { case (rel, i) =>
        val emit = newPos(rel) -- prevPos.getOrElse(rel, Set.empty)
        if (emit.isEmpty) None
        else Some(PosChangeInputPartition(
          wholeFilePartition(dataDir, rel, 1000000 + i, lens(rel)),
          Some(emit), Set.empty, spec("delete")): InputPartition)
      }
    inserts ++ hardClean ++ hardDirty ++ masked
  }
}

/** Row filter + literal-append spec for one changelog partition group:
  * a row emits iff NO `subtract` predicate holds (already dead before
  * this commit) AND (`matchAny` is empty OR some predicate holds),
  * labeled with the change type and commit version — except rows
  * matching a `pairWith` predicate, which carry `pairLabel` instead
  * (the pair-updates relabeling). */
private[graft] final case class ChangeSpec(
    matchAny: Seq[MorPredicate], subtract: Seq[MorPredicate],
    label: String, version: Int,
    colTypes: Array[DataType],
    pairWith: Seq[MorPredicate] = Nil,
    pairLabel: String = "",
    // identity-column constants for hive-imported partitioned files
    // (ordinal → internal value): the dirs hold the value, the footers
    // do not — same authority as ImportOverlay on the data scan
    overlay: Seq[(Int, Any)] = Nil) extends Serializable

private[graft] final case class ChangeInputPartition(
    delegate: InputPartition, spec: ChangeSpec) extends InputPartition {
  override def preferredLocations(): Array[String] = delegate.preferredLocations()
}

/** A POSITIONAL changelog partition: one whole (unsplit) file, emitting
  * rows whose full-file index is in `emit` (None = every row) and not
  * in `subtract` (rows dead before this commit). */
private[graft] final case class PosChangeInputPartition(
    delegate: InputPartition, emit: Option[Set[Long]], subtract: Set[Long],
    spec: ChangeSpec) extends InputPartition {
  override def preferredLocations(): Array[String] = delegate.preferredLocations()
}

/** A SPILLED changelog partition (streaming over-budget fallback): the
  * rows were precomputed by the distributed batch frame and written
  * under the stream's checkpoint, so the file already carries the
  * widened schema — the reader passes rows through untouched. */
private[graft] final case class SpillChangeInputPartition(
    delegate: InputPartition) extends InputPartition {
  override def preferredLocations(): Array[String] = delegate.preferredLocations()
}

private[graft] class ChangesReaderFactory(delegate: PartitionReaderFactory,
                                          namedDelegate: PartitionReaderFactory = null,
                                          dataDir: String = "",
                                          spillDelegate: PartitionReaderFactory = null)
  extends PartitionReaderFactory {
  // rows gain literal columns per row: uniformly row-based (same
  // decode-vectorized-serve-rows path as the MoR reader)
  override def supportColumnarReads(p: InputPartition): Boolean = false
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] =
    throw new UnsupportedOperationException("changelog scans are row-based")
  private lazy val dataDirSegs = ImportRouting.segsOf(dataDir)
  // an add_files commit's inserted rows read through the name-resolving
  // twin (id-less files null-fill under an id-carrying request); the
  // same routing rule as the data stream
  private def pick(d: InputPartition): PartitionReaderFactory =
    if (namedDelegate != null && ImportRouting.touchesImported(d, dataDirSegs))
      namedDelegate
    else delegate
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case ChangeInputPartition(d, spec) =>
        new ChangeEmittingReader(pick(d).createReader(d), spec)
      case PosChangeInputPartition(d, emit, subtract, spec) =>
        new PosChangeReader(pick(d).createReader(d), emit, subtract, spec)
      case SpillChangeInputPartition(d) => spillDelegate.createReader(d)
      case other => throw new IllegalStateException(s"untagged partition $other")
    }
}

/** Positional counting reader: the delegate covers ONE whole file with
  * no pushed filters, so the emitted order is the file order and the
  * running index IS the row position. (Deliberately NOT the row-index-
  * column shape the data scans use: no predicate ever pushes into a
  * changelog read, so the only value of splitting would be parallelism
  * within one file — and the changelog's unit of pacing is the FILE,
  * bounded by max-files-per-trigger.) */
private[graft] class PosChangeReader(
    delegate: PartitionReader[InternalRow], emit: Option[Set[Long]],
    subtract: Set[Long], spec: ChangeSpec)
  extends PartitionReader[InternalRow] {

  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, UnsafeProjection}

  private var current: InternalRow = _
  private var idx = -1L
  private lazy val proj = UnsafeProjection.create(
    spec.colTypes.zipWithIndex.map { case (dt, i) =>
      BoundReference(i, dt, nullable = true): Expression
    }.toSeq ++ Seq(
      Literal(UTF8String.fromString(spec.label), StringType): Expression,
      Literal(spec.version, IntegerType): Expression))

  override def next(): Boolean = {
    while (delegate.next()) {
      idx += 1
      if (emit.forall(_.contains(idx)) && !subtract.contains(idx)) {
        current = proj(delegate.get())
        return true
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = delegate.close()
}

/** Filters by the spec's key predicates and appends the change-type and
  * commit-version literals. Projection output reuses a buffer (legal:
  * DSv2 readers may reuse rows between next() calls). */
private[graft] class ChangeEmittingReader(
    delegate: PartitionReader[InternalRow], spec: ChangeSpec)
  extends PartitionReader[InternalRow] {

  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, UnsafeProjection}

  private var current: InternalRow = _
  private def mkProj(label: String) = {
    val byOrd = spec.overlay.toMap
    UnsafeProjection.create(
      spec.colTypes.zipWithIndex.map { case (dt, i) =>
        byOrd.get(i).map(v => Literal(v, dt): Expression)
          .getOrElse(BoundReference(i, dt, nullable = true): Expression)
      }.toSeq ++ Seq(
        Literal(UTF8String.fromString(label), StringType): Expression,
        Literal(spec.version, IntegerType): Expression))
  }
  private lazy val proj = mkProj(spec.label)
  private lazy val pairProj = mkProj(spec.pairLabel)

  private def matches(r: InternalRow, ps: Seq[MorPredicate]): Boolean = {
    var i = 0
    while (i < ps.length) {
      val p = ps(i)
      if (p.keys.contains(MergeOnRead.internalKey(r, p.ordinals, p.types)))
        return true
      i += 1
    }
    false
  }

  override def next(): Boolean = {
    while (delegate.next()) {
      val r = delegate.get()
      if (!matches(r, spec.subtract) &&
          (spec.matchAny.isEmpty || matches(r, spec.matchAny))) {
        current =
          if (spec.pairWith.nonEmpty && matches(r, spec.pairWith)) pairProj(r)
          else proj(r)
        return true
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = delegate.close()
}

/** The `t$changes` DSv2 table itself. (Coordinates are exposed so the
  * [[ChangelogDeleteJoin]] rule can re-plan an over-budget window as
  * the distributed batch feed.) */
private[graft] class GraftChangesTable(
    tableName: String, val store: MetaStore,
    val ns: Seq[String], val table: String)
  extends Table with SupportsRead {

  private def baseSchema: StructType = {
    val (m, _) = store.load(ns, table)
    SchemaBridge.toSpark(m.currentSchema)
  }

  override def name(): String = tableName
  override def schema(): StructType = ChangesTable.widen(baseSchema)
  override def partitioning(): Array[Transform] = Array.empty
  override def properties(): util.Map[String, String] =
    Map("format" -> "parquet", "kind" -> "changes").asJava
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new ChangesScan(store, ns, table, baseSchema, options)
    }
}

private[graft] class ChangesScan(
    store: MetaStore, ns: Seq[String], table: String,
    schema: StructType, options: CaseInsensitiveStringMap) extends Scan {

  override def readSchema(): StructType = ChangesTable.widen(schema)
  override def description(): String =
    s"graft-changes(${(ns :+ table).mkString(".")})"

  // delete-file predicates are immutable — share them across every
  // step of the window (and every batch of the stream below)
  private val keyCache =
    scala.collection.mutable.Map.empty[String, MorPredicate]

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val s = SparkSession.active
      val name = (ns :+ table).mkString(".")
      // version window from either coordinate system: versions
      // (from/to-version) or wall-clock (starting/ending-timestamp)
      val fromV = ChangesTable.resolveStartVersion(store, ns, table, options, name)
      val toV = ChangesTable.resolveEndVersion(store, ns, table, options, name)
      require(fromV <= toV, s"from-version $fromV is above to-version $toV")
      // explicit-off field-id sessions may not read renamed delete keys
      // by name; the keyId walk (call-by-name) only runs in such
      // sessions, over body-cached version documents
      GraftTable.requireRenameSafeNameReads(s,
        store.loadVersion(ns, table, toV),
        ((fromV + 1) to toV).iterator.flatMap(v =>
          store.loadVersion(ns, table, v).currentSnapshot
            .map(_.deleteFiles.flatMap(_.keyFieldIds)).getOrElse(Nil)).toSet,
        s"changelog scan of $name")
      ((fromV + 1) to toV).flatMap(v =>
        ChangesTable.stepPartitions(s, store, ns, table, schema, options,
          keyCache, v))
        .toArray
    }
    override def createReaderFactory(): PartitionReaderFactory = {
      val dataDir = store.dataDir(ns, table)
      new ChangesReaderFactory(
        ChangesTable.delegateScan(SparkSession.active, dataDir, Nil, schema,
          options).toBatch.createReaderFactory(),
        ChangesTable.delegateScan(SparkSession.active, dataDir, Nil, schema,
          options, forceNamed = true).toBatch.createReaderFactory(),
        dataDir)
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    val start = ChangesTable.resolveStartVersion(store, ns, table, options,
      (ns :+ table).mkString("."))
    new ChangesMicroBatchStream(store, ns, table, schema, options, start,
      checkpointLocation)
  }
}

/** CDC stream: offsets are metadata versions (same ledger as the data
  * stream); each micro-batch is the changelog of its version window.
  * Replays are bit-identical — partitions derive from immutable
  * metadata and immutable files. `max-files-per-trigger` paces history
  * replay exactly like the data stream (a changelog stream started at
  * version 0 re-reads the table's whole life — unbounded, that is one
  * giant batch). */
private[graft] class ChangesMicroBatchStream(
    store: MetaStore, ns: Seq[String], table: String,
    schema: StructType, options: CaseInsensitiveStringMap,
    startVersion: Int, checkpointLocation: String = "") extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  private val keyCache =
    scala.collection.mutable.Map.empty[String, MorPredicate]

  private val maxFilesPerTrigger: Option[Int] =
    ChangesTable.parseMaxFilesPerTrigger(options)
  private val maxBytesPerTrigger: Option[Long] =
    ChangesTable.parseMaxBytesPerTrigger(options)

  override def initialOffset(): Offset = GraftSourceOffset(startVersion)
  override def latestOffset(): Offset =
    GraftSourceOffset(math.max(startVersion, store.currentVersion(ns, table)))
  override def deserializeOffset(json: String): Offset =
    GraftSourceOffset.parse(json)

  /** Files one step will scan: added + removed, plus the kept files a
    * new equality delete forces a masked re-read of. Memoized for the
    * stream's lifetime — a step count is a pure function of two
    * immutable versions, and the admission walk re-asks for the same
    * versions on every catch-up trigger (without the cache that is
    * O(backlog) metadata loads PER TRIGGER, and each entry here is one
    * Int — no ceiling needed). */
  private val stepCountCache = scala.collection.mutable.Map.empty[Int, Int]

  private def stepDiffAt(v: Int): Option[ChangesTable.StepDiff] = {
    val meta = store.loadVersion(ns, table, v)
    val prev = if (v - 1 >= 1) Some(store.loadVersion(ns, table, v - 1)) else None
    ChangesTable.stepDiff(meta, prev)
  }

  private def stepFileCount(v: Int): Int =
    stepCountCache.getOrElseUpdate(v, {
      stepDiffAt(v).map { d =>
        d.added.size + d.removed.size +
          (if (d.newDeletes.nonEmpty) d.kept.size else 0)
      }.getOrElse(0)
    })

  /** One step's scanned DATA bytes (added + removed + masked-kept file
    * lengths off the manifest length cache) plus its delete-file bytes.
    * Conservative: kept files counted whole even where key-stats
    * pruning will drop them at planning — pacing must never admit MORE
    * than a trigger can scan. Memoized like the count (a Long per
    * version). */
  private val stepBytesCache = scala.collection.mutable.Map.empty[Int, Long]

  private def stepByteCount(v: Int): Long =
    stepBytesCache.getOrElseUpdate(v, {
      stepDiffAt(v).map { d =>
        val dataRels = d.added ++ d.removed ++
          (if (d.newDeletes.nonEmpty) d.kept else Nil)
        val lens = if (dataRels.isEmpty) 0L
          else ManifestFileIndex.lengthsFor(SparkSession.active,
            store.dataDir(ns, table), dataRels).values.sum
        lens + d.newDeletes.map(MergeOnRead.estBytes).sum
      }.getOrElse(0L)
    })

  /** The ordered added-file list (rel, bytes) of version v IFF the step
    * is a PURE APPEND — the only commit kind whose files are
    * independently emittable and therefore sub-splittable by pacing.
    * Memoized like the step counts (immutable versions; lengths ride
    * the manifest layer's cache). Bounded, unlike the int-sized step
    * counts: these entries hold whole file lists, and the walk only
    * touches a sliding window of versions. */
  private val appendFilesCache = new graft.Lru[Int, Option[Seq[(String, Long)]]](bound = 16)
  private def appendFilesOf(v: Int): Option[Seq[(String, Long)]] =
    appendFilesCache.get(v).getOrElse {
      val files = stepDiffAt(v).flatMap { d =>
        if (d.removed.isEmpty && d.newDeletes.isEmpty && d.added.nonEmpty) {
          val lens = ManifestFileIndex.lengthsFor(SparkSession.active,
            store.dataDir(ns, table), d.added)
          Some(d.added.map(r => r -> lens(r)))
        } else None
      }
      appendFilesCache.put(v, files)
      files
    }

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

  /** Budget walk with SUB-COMMIT splitting ([[SubCommitWalk]], shared
    * with the data stream): non-append commits admit atomically (their
    * delete/pairing semantics tie the step's files together);
    * pure-append commits admit file by file, so one giant backfill
    * append paces into many micro-batches instead of arriving as one
    * (the r8 verdict's "500 GB append" gap). At least one unit — file
    * or atomic step — always admits, the same progress guarantee the
    * whole-version walk had. */
  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadMaxBytes, ReadMaxFiles}
    val st = GraftSourceOffset.of(start)
    val cur = math.max(startVersion, store.currentVersion(ns, table))
    val limits = limit match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq
      case other => Seq(other)
    }
    val fileCap = limits.collectFirst { case m: ReadMaxFiles => m.maxFiles() }
    val byteCap = limits.collectFirst { case b: ReadMaxBytes => b.maxBytes() }
    if (fileCap.isEmpty && byteCap.isEmpty)
      return GraftSourceOffset(cur)
    if (cur <= st.version && st.fileIdx == 0) return GraftSourceOffset(cur)
    val (lastFull, extra) = SubCommitWalk.walk(st.version, st.fileIdx, cur,
      fileCap, byteCap, appendFilesOf,
      atomicCost = { v =>
        (stepFileCount(v), if (byteCap.isDefined) stepByteCount(v) else 0L)
      })
    GraftSourceOffset(lastFull, extra)
  }

  override def reportLatestOffset(): Offset =
    GraftSourceOffset(math.max(startVersion, store.currentVersion(ns, table)))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val st = GraftSourceOffset.of(start)
    val en = GraftSourceOffset.of(end)
    val s = SparkSession.active
    val spill = Option(checkpointLocation).filter(_.nonEmpty)
    def sliced(v: Int, from: Int, until: Int): Seq[InputPartition] = {
      val files = appendFilesOf(v).getOrElse(throw new IllegalStateException(
        s"sub-commit offset into version $v, which is not a pure append"))
      ChangesTable.appendPartitions(s, store, ns, table, schema, options, v,
        files.map(_._1).slice(from, until))
    }
    val parts = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    ((st.version + 1) to en.version).foreach { v =>
      val skip = if (v == st.version + 1) st.fileIdx else 0
      if (skip == 0)
        parts ++= ChangesTable.stepPartitions(s, store, ns, table, schema,
          options, keyCache, v, spill)
      else parts ++= sliced(v, skip, Int.MaxValue)
    }
    if (en.fileIdx > 0) {
      val v = en.version + 1
      val skip = if (v == st.version + 1) st.fileIdx else 0
      parts ++= sliced(v, skip, en.fileIdx)
    }
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val dataDir = store.dataDir(ns, table)
    new ChangesReaderFactory(
      ChangesTable.delegateScan(SparkSession.active, dataDir, Nil, schema,
        options).toBatch.createReaderFactory(),
      ChangesTable.delegateScan(SparkSession.active, dataDir, Nil, schema,
        options, forceNamed = true).toBatch.createReaderFactory(),
      dataDir,
      // serves over-budget steps spilled by the batch-frame fallback
      // (rows arrive pre-widened; read by name — self-written files)
      ChangesTable.delegateScan(SparkSession.active, dataDir, Nil,
        ChangesTable.widen(schema), options, forceNamed = true)
        .toBatch.createReaderFactory())
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
