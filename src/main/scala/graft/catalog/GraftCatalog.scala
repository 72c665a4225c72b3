package graft.catalog

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.commit._
import graft.meta._

/** Spark DSv2 catalog with the semantics of the reference Iceberg REST
  * catalog server (all 15 operations of SURVEY.md §2.A), re-expressed on
  * `TableCatalog with SupportsNamespaces` and backed by a [[MetaStore]]
  * (versioned JSON metadata + CAS commits: one protocol over one
  * create-if-absent primitive, with POSIX, Hadoop and object-store
  * adapters) instead of an HTTP service.
  *
  * Register with:
  * {{{
  *   spark.sql.catalog.graft          = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  *   spark.sql.catalog.graft.defaults.<k>  = v   // like GET /v1/config defaults
  *   spark.sql.catalog.graft.overrides.<k> = v   // like GET /v1/config overrides
  * }}}
  *
  * Catalog ops are driver-only (the reference server is a single process;
  * `/root/reference/main.go:111-121`); only data-plane scans/writes fan
  * out to executors.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with FunctionCatalog with ProcedureCatalog {

  /** SQL maintenance surface: `CALL graft.system.<proc>(...)` — see
    * [[Procedures]]. The `system` namespace is virtual (procedures
    * only); any namespace is accepted on lookup so unqualified calls
    * resolve too. */
  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    // the maintenance verbs live in `system` only — listing them under
    // every namespace would make CALL graft.<any-ns>.compact resolve
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      Procedures.Names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.isEmpty || ident.namespace.sameElements(Array("system")),
      s"no procedures under namespace ${ident.namespace.mkString(".")} — " +
        "maintenance verbs live in `system`")
    Procedures.load(this, ident.name)
  }

  private var catalogName: String = _
  private var store: MetaStore = _
  private var defaults: Map[String, String] = Map.empty
  private var overrides: Map[String, String] = Map.empty

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = Option(options.get("warehouse")).getOrElse(
      sys.props("java.io.tmpdir") + s"/graft-warehouse-$name")
    // scheme-dispatched backend: bare/file paths → POSIX hard-link CAS,
    // anything else → the Hadoop FileSystem store (hdfs://, abfs://, …)
    store = MetaStore.forWarehouse(wh)
    store.ensureRoot()
    val all = options.asScala
    defaults = all.collect { case (k, v) if k.startsWith("defaults.") =>
      k.stripPrefix("defaults.") -> v }.toMap
    overrides = all.collect { case (k, v) if k.startsWith("overrides.") =>
      k.stripPrefix("overrides.") -> v }.toMap
    // Field-id column resolution is NOT set here: every read this
    // catalog performs carries it as a per-read option
    // (GraftTable.idReader / fieldIdOptions), so other parquet reads
    // and V2 sources in the session keep their own resolution behavior.
    // The two planner confs below have no per-read equivalent — they
    // gate optimizer rules, not reader construction — and are inert for
    // sources that don't report the corresponding capabilities.
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach { s =>
        // the parquet delegate answers COUNT/MIN/MAX from footer
        // metadata (off by default in Spark) — the catalog forwards
        // aggregations to it, so `SELECT count(*) FROM t` on a 100 TB
        // table reads footers, not data
        s.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        // key-grouped scan reports are inert without V2 bucketing: with
        // it on, co-partitioned joins / partition-keyed aggs over graft
        // tables skip their exchanges (see KeyGroupedRead.scala)
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        // pushPartValues forced OFF (r16; Spark 4 defaults it ON):
        // Spark's common-partition-value
        // push walks the WHOLE join child when it aligns the two SPJ
        // sides, and a SECOND key-grouped scan sitting under a broadcast
        // inside that child (a cell-partitioned dim feeding a BHJ below
        // the SPJ aggregate) receives the OTHER table's bucket values as
        // its commonPartitionValues — its groups then re-line against
        // foreign ints and any group whose value matches a hole in the
        // pushed list is silently DROPPED from the scan (SpjSpec
        // "common-partition-value push must not corrupt an unrelated
        // keyed scan" pins the repro: bucket(16) with one empty bucket
        // #3 ⟹ the dim's cell=3 partition vanishes). The cost of OFF is
        // only that mismatched-value sides fall back to a shuffled join
        // — correct, just not exchange-free; equal-value SPJ (the q89/
        // q95/q102 layouts) keeps its shuffle-free plan.
        s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
          "false")
      }
  }

  /** The V2 function surface exists for ONE reason: resolving the
    * transforms [[KeyedScan]] reports — `bucket(n, col)` and the
    * temporal dirs (`years/months/days/hours`) — so Catalyst can prove
    * two graft tables co-partitioned (the function's canonical name is
    * the compatibility check) and re-derive keys for one-sided
    * shuffles. */
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    ("bucket" +: TemporalFunctionNames.map(_ + "s"))
      .map(Identifier.of(namespace, _)).toArray

  private val TemporalFunctionNames = Seq("year", "month", "day", "hour")

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    // transform resolution looks functions up under the EMPTY namespace;
    // accept `system` as the documented spelling and reject the rest
    if (!(ident.namespace.isEmpty || ident.namespace.sameElements(Array("system"))))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    if (ident.name.equalsIgnoreCase("bucket")) GraftFunctions.BucketUnbound
    else TemporalFunctionNames.find(k => ident.name.equalsIgnoreCase(k + "s"))
      .map(TemporalFunctions.TemporalUnbound)
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident))
  }

  override def name(): String = catalogName

  /** GET /v1/config equivalent (`tables.go:38-46`): client properties are
    * merged defaults → client → overrides. */
  def config(clientProps: Map[String, String] = Map.empty): Map[String, String] =
    defaults ++ clientProps ++ overrides

  def configDefaults: Map[String, String] = defaults
  def configOverrides: Map[String, String] = overrides

  def metadataStore: MetaStore = store

  // ---- namespaces (ops 2-7 of §2.A) ------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    store.listNamespaces(Nil).map(_.toArray).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    store.listNamespaces(namespace.toSeq).map(_.toArray).toArray

  override def namespaceExists(namespace: Array[String]): Boolean =
    store.namespaceExists(namespace.toSeq)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!store.namespaceExists(namespace.toSeq))
      throw new NoSuchNamespaceException(namespace)
    store.loadNamespace(namespace.toSeq).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    val ns = namespace.toSeq
    if (store.namespaceExists(ns)) throw new NamespaceAlreadyExistsException(namespace)
    // implicit parents are created as real namespaces (multi-level, like
    // the reference's \x1F-joined levels, models.go:10). The store's
    // create-if-absent decides races: losing one is fine for an implicit
    // parent, and "already exists" for the namespace asked for.
    ns.inits.toList.reverse.filter(_.nonEmpty).foreach { prefix =>
      val leaf = prefix == ns
      if (leaf || !store.namespaceExists(prefix))
        try store.createNamespace(prefix, if (leaf) metadata.asScala.toMap else Map.empty)
        catch { case _: IllegalStateException =>
          if (leaf) throw new NamespaceAlreadyExistsException(namespace)
        }
    }
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit = {
    val removals = changes.collect {
      case r: NamespaceChange.RemoveProperty => r.property }
    val updates = changes.collect {
      case s: NamespaceChange.SetProperty => s.property -> s.value }.toMap
    updateNamespaceProperties(namespace.toSeq, removals, updates)
  }

  /** POST /…/properties semantics (`namespaces.go:146-187`): a key in both
    * removals and updates is a 422 (UnprocessableEntity, `errors.go:45-49`);
    * returns the (updated, removed, missing) summary. */
  def updateNamespaceProperties(ns: Seq[String], removals: Seq[String],
      updates: Map[String, String]): (Seq[String], Seq[String], Seq[String]) = {
    val overlap = removals.toSet.intersect(updates.keySet)
    if (overlap.nonEmpty)
      throw new IllegalArgumentException(
        s"properties in both removals and updates: ${overlap.toSeq.sorted.mkString(",")}")
    if (!store.namespaceExists(ns)) throw new NoSuchNamespaceException(ns.toArray)
    val current = store.loadNamespace(ns)
    val missing = removals.filterNot(current.contains)
    val removed = removals.filter(current.contains)
    store.setNamespaceProperties(ns, current -- removals ++ updates)
    (updates.keys.toSeq.sorted, removed.sorted, missing.sorted)
  }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val ns = namespace.toSeq
    if (!store.namespaceExists(ns)) throw new NoSuchNamespaceException(namespace)
    if (cascade) {
      store.listTables(ns).foreach(t => store.dropTable(ns, t))
      store.listNamespaces(ns).foreach(c => dropNamespace(c.toArray, cascade = true))
    }
    try store.dropNamespace(ns)
    catch { case _: IllegalStateException =>
      // non-cascading drop of a non-empty namespace: 409 in the reference
      // (`namespaces.go:131-136`)
      throw new NonEmptyNamespaceException(namespace)
    }
  }

  // ---- tables (ops 8-14 of §2.A) ---------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!store.namespaceExists(namespace.toSeq))
      throw new NoSuchNamespaceException(namespace)
    store.listTables(namespace.toSeq)
      .map(t => Identifier.of(namespace, t)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    store.tableExists(ident.namespace.toSeq, ident.name)

  /** `name$kind` split at the LAST '$' (a real base name may itself
    * contain '$'), for names that could be inspection tables. */
  private def inspectionSplit(name: String): Option[(String, String)] = {
    val i = name.lastIndexOf('$')
    if (i <= 0) None
    else Some((name.substring(0, i), name.substring(i + 1)))
      .filter { case (_, kind) => MetadataTables.Kinds.contains(kind) }
  }

  /** `t$changes` base-name split (the changelog is data-scale, so it is
    * its own table kind, not a LocalScan inspection kind). */
  private def changesSplit(name: String): Option[String] = {
    val i = name.lastIndexOf('$')
    if (i <= 0 || name.substring(i + 1) != "changes") None
    else Some(name.substring(0, i))
  }

  override def loadTable(ident: Identifier): Table = {
    val ns = ident.namespace.toSeq
    // `$history` / `$files` inspection tables — unless a REAL table with
    // that exact name exists (real tables always win). The existence
    // probe only runs for names that can BE inspection tables, so the
    // hot path ($-free names) stays one metadata call.
    inspectionSplit(ident.name) match {
      case Some((base, kind))
        if !store.tableExists(ns, ident.name) && store.tableExists(ns, base) =>
        val (m, _) = store.load(ns, base)
        return MetadataTables.table(kind,
          fullName(Identifier.of(ident.namespace, base)), m)
      case _ => ()
    }
    // `t$changes` — the row-level changelog as a batch/streaming table
    // (data-scale, so it's a real scan, not a LocalScan inspection)
    changesSplit(ident.name) match {
      case Some(base)
        if !store.tableExists(ns, ident.name) && store.tableExists(ns, base) =>
        return new GraftChangesTable(
          fullName(Identifier.of(ident.namespace, base)) + "$changes",
          store, ns, base)
      case _ => ()
    }
    val (m, v) = store.load(ns, ident.name)
    new GraftTable(fullName(ident), store, ns, ident.name, m, v,
      config(m.properties))
  }

  /** Time travel: `VERSION AS OF n` loads metadata version n and scans
    * that snapshot's file list. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val ns = ident.namespace.toSeq
    // a clear refusal beats a spurious not-found for `t$history` etc.
    if (inspectionSplit(ident.name).exists { case (b, _) =>
        !store.tableExists(ns, ident.name) && store.tableExists(ns, b) })
      throw new UnsupportedOperationException(
        s"inspection table ${ident.name} does not support time travel " +
          "(it already serves the full snapshot history)")
    val v = try version.toInt catch {
      case _: NumberFormatException =>
        // not a version number → a ref name (branch or tag): pin the
        // CURRENT metadata at the ref's snapshot — schema/spec history
        // stays live, only the visible snapshot changes
        val (m, ver) = store.load(ns, ident.name)
        val ref = m.refs.getOrElse(version,
          throw new IllegalArgumentException(
            s"table ${ident.name} has no version or ref '$version'"))
        return new GraftTable(fullName(ident), store, ns, ident.name,
          m.copy(currentSnapshotId = Some(ref.snapshotId)), ver,
          config(m.properties), frozen = true)
    }
    val m = store.loadVersion(ns, ident.name, v)
    new GraftTable(fullName(ident), store, ns, ident.name, m, v,
      config(m.properties), frozen = true)
  }

  /** Time travel by wall clock: `TIMESTAMP AS OF t` loads the largest
    * metadata version committed at or before `t`. Commit time is the
    * metadata file's mtime — versions are immutable once written, so
    * the mtime IS the commit instant; versions already expired (file
    * gone) simply don't qualify. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val ns = ident.namespace.toSeq
    if (!store.tableExists(ns, ident.name)) throw new NoSuchTableException(ident)
    val tsMs = Math.floorDiv(timestampMicros, 1000L)
    val latest = store.currentVersion(ns, ident.name)
    val v = (1 to latest).filter { v =>
      store.lastModifiedMs(store.metadataLocation(ns, ident.name, v))
        .exists(_ <= tsMs)
    }.maxOption.getOrElse(throw new IllegalArgumentException(
      s"table ${fullName(ident)} has no version committed at or before " +
        s"timestamp ${java.time.Instant.ofEpochMilli(tsMs)} " +
        "(the table is younger, or that history has been expired)"))
    val m = store.loadVersion(ns, ident.name, v)
    new GraftTable(fullName(ident), store, ns, ident.name, m, v,
      config(m.properties), frozen = true)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val ns = ident.namespace.toSeq
    if (!store.namespaceExists(ns)) throw new NoSuchNamespaceException(ident.namespace)
    if (store.tableExists(ns, ident.name)) throw new TableAlreadyExistsException(ident)
    val schemaDef = SchemaBridge.fromSpark(schema)
    val byName = schemaDef.fields.map(f => f.name -> f.id).toMap
    val specFields = partitions.toList.map(t => TransformBridge.toField(t, byName))
    val props = properties.asScala.toMap - "location" - "provider" - "owner"
    val meta = TableMetadata.empty(
      uuid = java.util.UUID.randomUUID().toString,
      location = store.dataDir(ns, ident.name),
      schema = schemaDef,
      spec = PartitionSpecDef(0, specFields),
      order = SortOrderDef(0, Nil),
      props = defaults ++ props ++ overrides)
    // a create that lost a race to another one reports "exists" too
    try store.createTable(ns, ident.name, meta)
    catch { case _: IllegalStateException => throw new TableAlreadyExistsException(ident) }
    loadTable(ident)
  }

  /** UpdateTable/commit (`tables.go:150-227`): Spark's ALTER TABLE changes
    * are bridged onto the Requirement/MetadataUpdate algebra with an
    * AssertCurrentSchemaId guard, then CAS-committed. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val ns = ident.namespace.toSeq
    val (base, _) = store.load(ns, ident.name)

    var schemaUpdated = false
    var fields = base.currentSchema.fields
    var nextColId = base.lastColumnId + 1
    def freshId(): Int = { val v = nextColId; nextColId += 1; v }
    val updates = scala.collection.mutable.ArrayBuffer.empty[MetadataUpdate]

    // nested changes descend id-carrying struct types by name and edit
    // the field list at the path's parent — ids never change on
    // rename/move, so nested evolution stays metadata-only exactly like
    // top-level evolution (old files resolve by field id at every level)
    def editAt(path: Seq[String])(edit: List[FieldDef] => List[FieldDef]): Unit = {
      fields = SchemaBridge.editFieldsAt(fields, path)(edit)
      schemaUpdated = true
    }
    def mapField(path: Seq[String])(f: FieldDef => FieldDef): Unit =
      editAt(path.init) { siblings =>
        require(siblings.exists(_.name == path.last), s"no such column: ${path.last}")
        siblings.map(fd => if (fd.name == path.last) f(fd) else fd)
      }

    changes.foreach {
      case a: TableChange.AddColumn =>
        editAt(a.fieldNames.init.toSeq) { siblings =>
          require(!siblings.exists(_.name == a.fieldNames.last),
            s"column ${a.fieldNames.last} already exists")
          siblings :+ FieldDef(freshId(), a.fieldNames.last,
            SchemaBridge.formatTypeWithIds(a.dataType, () => freshId()),
            required = !a.isNullable)
        }
      case d: TableChange.DeleteColumn =>
        editAt(d.fieldNames.init.toSeq)(
          _.filterNot(_.name == d.fieldNames.last))
      case r: TableChange.RenameColumn =>
        // imported (add_files) files carry no parquet field ids — they
        // resolve by NAME, at every retained version a scan or changelog
        // window can still reach. A rename would make them silently
        // serve nulls for the renamed column, so it refuses until
        // compaction has re-homed the data (ids stamped) AND expiry has
        // trimmed the import commits out of retained history.
        require(!base.snapshots.exists(
            _.files.exists(GraftTable.isImportedRel)),
          s"cannot rename columns on ${ident.name} while files imported " +
            "by add_files remain in retained history — they resolve by " +
            "name and would serve NULL for the renamed column; run " +
            "compact then expire_snapshots first")
        mapField(r.fieldNames.toSeq)(_.copy(name = r.newName))
      case u: TableChange.UpdateColumnType =>
        mapField(u.fieldNames.toSeq) { f =>
          // lossless promotions only — refuse before any metadata write
          SchemaBridge.requirePromotion(f.`type`, u.newDataType,
            u.fieldNames.mkString("."))
          f.copy(
            `type` = SchemaBridge.formatTypeReconciled(u.newDataType, f.`type`,
              () => freshId()))
        }
      case n: TableChange.UpdateColumnNullability =>
        mapField(n.fieldNames.toSeq)(_.copy(required = !n.nullable))
      case p: TableChange.SetProperty =>
        // flipping the row-id declaration while the OTHER delete flavor
        // is live would mix flavors in one table — the read paths apply
        // one flavor at a time, so the stale flavor's rows would
        // silently resurrect. Compaction folds deletes in; flip after.
        if (p.property == "identifier-fields") {
          val live = base.currentSnapshot.map(_.deleteFiles).getOrElse(Nil)
          require(live.forall(_.keyFieldIds.nonEmpty),
            s"cannot set identifier-fields on ${ident.name} while " +
              "position-delete files are live — compact first")
        }
        updates += MetadataUpdate.SetProperties(Map(p.property -> p.value))
      case p: TableChange.RemoveProperty =>
        if (p.property == "identifier-fields") {
          val live = base.currentSnapshot.map(_.deleteFiles).getOrElse(Nil)
          require(live.forall(_.keyFieldIds.isEmpty),
            s"cannot remove identifier-fields from ${ident.name} while " +
              "equality-delete files are live — compact first")
        }
        updates += MetadataUpdate.RemoveProperties(Seq(p.property))
      case other =>
        throw new UnsupportedOperationException(s"table change $other")
    }
    if (schemaUpdated) {
      val newId = base.schemas.map(_.schemaId).max + 1
      updates.prepend(MetadataUpdate.SetCurrentSchema(-1))
      updates.prepend(MetadataUpdate.AddSchema(SchemaDef(newId, fields)))
    }
    // a flip of the row-id declaration was validated against THIS
    // snapshot's delete flavors — a DML landing in between must fail
    // the flip (snapshot assert), not race into the mixed-flavor state
    val touchesKeys = changes.exists {
      case p: TableChange.SetProperty => p.property == "identifier-fields"
      case p: TableChange.RemoveProperty => p.property == "identifier-fields"
      case _ => false
    }
    val reqs = Seq(Requirement.AssertCurrentSchemaId(base.currentSchemaId)) ++
      (if (touchesKeys)
        Seq(Requirement.AssertCurrentSnapshotId(base.currentSnapshotId))
      else Nil)
    commit(ident, reqs, updates.toSeq)
    loadTable(ident)
  }

  /** The REST-shaped commit entry point (requirements + updates), shared
    * by alterTable, the write path, and tests. */
  def commit(ident: Identifier, requirements: Seq[Requirement],
             updates: Seq[MetadataUpdate]): TableMetadata =
    store.commitOps(ident.namespace.toSeq, ident.name, requirements, updates)

  override def dropTable(ident: Identifier): Boolean =
    store.dropTable(ident.namespace.toSeq, ident.name)

  /** `input_file_name()` returns the scanned file's URL-ENCODED path
    * (a literal space renders as %20, a literal % as %25), while
    * [[MetaStore.listParquetUnder]] returns literal file-system names —
    * decode before comparing, or any source path containing an
    * encodable character fails every per-file proof mapping. */
  private def decodedScanPath(f: String): String =
    try new java.net.URI(f).getPath
    catch { case _: java.net.URISyntaxException => f }

  /** Onboarding: register a directory of EXISTING parquet files as
    * table data without rewriting a byte — the verb that moves a
    * 100 TB corpus into the catalog as one metadata commit instead of
    * a full re-encode (Iceberg's `add_files`; registering external
    * data is what the reference catalog exists for,
    * `/root/reference/api/handlers/tables.go` create/load). Files are
    * hard-linked into an `import-<uuid>/` dir under the table's data
    * root (POSIX store; byte-copied on other substrates) so the
    * relative-path manifest invariant holds, their column stats are
    * harvested exactly like a write's (min/max pruning works from the
    * first query), and ONE AppendFiles snapshot publishes them.
    *
    * Imported files carry no parquet field ids, so scans serve them by
    * NAME (the readers strip field-id metadata from requests touching
    * them — see [[graft.meta.SchemaBridge.stripFieldIds]]). Soundness
    * needs names to be trustworthy, hence two refusals: (a) tables
    * whose schema history ever renamed a column (old native files need
    * id resolution, which cannot coexist with name-only files in one
    * request), and (b) column renames refuse while imported files
    * remain in retained history (compact + expire lifts this — the
    * rewrite stamps ids into everything).
    *
    * PARTITIONED tables import hive layouts (`k=v/…parquet` — the
    * Spark `partitionBy` shape, the headline onboarding case): the
    * default spec must be all-identity over exact-render types, every
    * source file's dirs must cover the partition columns, and files
    * land under `import-<uuid>/__part_k=v/` so replay pruning sees
    * them from the first query. Hive files do not store the partition
    * column INSIDE the file, so scans serve those columns from the
    * dirs ([[ImportOverlay]] — dir authoritative, the layout's own
    * contract). Transform specs import when a witness exists: one
    * bucket field (Spark bucketBy file names, hash proven per row), a
    * lone temporal field (nested `year=/…` dirs, rendering proven per
    * row), or a lone truncate field (one prefix dir per file, proven
    * per row); unwitnessable shapes refuse. Merge-on-read write modes
    * and identifier-fields refuse too: delete keys and row coordinates
    * would read columns the footers don't hold.
    * `partitionFilter` (partitioned imports only) scopes the import to
    * source files whose dirs carry every given `k=v` RAW value —
    * Iceberg add_files' partition_filter: onboard yesterday's
    * partition of a living lake without touching the rest.
    * Returns the committed metadata and the number of files added. */
  def addFiles(ident: Identifier, sourceDir: String,
               partitionFilter: Map[String, String] = Map.empty)
      : (TableMetadata, Int) = {
    val ns = ident.namespace.toSeq
    val spark = org.apache.spark.sql.SparkSession.active
    val (base, _) = store.load(ns, ident.name)
    val specFields = base.specs.find(_.specId == base.defaultSpecId)
      .map(_.fields).getOrElse(Nil)
    val idToName = SchemaBridge.idNames(base.currentSchema)
    val tableSchema0 = SchemaBridge.toSpark(base.currentSchema)
    val exactRender: Set[org.apache.spark.sql.types.DataType] = {
      import org.apache.spark.sql.types._
      Set(StringType, IntegerType, LongType, ShortType, ByteType, BooleanType)
    }
    // witnessable spec shapes: every field must be identity (hive dirs),
    // bucket (file-name witness — at most one, the Spark bucketBy
    // contract), a single temporal standing ALONE (nested year=/…
    // dirs), or a single truncate standing ALONE (one prefix dir per
    // file). identity+bucket composes — the Spark
    // `partitionBy(...).bucketBy(...)` lake layout — because the two
    // witnesses are independent (dirs vs file names). Anything else
    // (multiple buckets, temporal/truncate mixed with other fields)
    // cannot be witnessed and refuses.
    val identityFields = specFields.filter(_.transform == "identity")
    val bucketFields = specFields.filter(_.transform.startsWith("bucket["))
    val temporalFields =
      specFields.filter(f => Set("year", "month", "day", "hour")(f.transform))
    val truncFields = specFields.filter(_.transform.startsWith("truncate["))
    val otherFields = specFields
      .filterNot(f => identityFields.contains(f) || bucketFields.contains(f)
        || temporalFields.contains(f) || truncFields.contains(f))
    require(otherFields.isEmpty,
      s"add_files on ${ident.name}: partition transform " +
        s"'${otherFields.head.transform}' cannot be witnessed by a source " +
        "directory — only identity, at-most-one-bucket, a lone temporal, " +
        "or a lone truncate field import foreign layouts; load via " +
        "INSERT INTO ... SELECT")
    require(bucketFields.size <= 1,
      s"add_files on ${ident.name}: ${bucketFields.size} bucket fields — " +
        "a Spark bucketBy file name witnesses exactly one; load via " +
        "INSERT INTO ... SELECT")
    require(temporalFields.isEmpty ||
        (temporalFields.size == 1 && specFields.size == 1),
      s"add_files on ${ident.name}: a temporal partition field imports " +
        "only as the spec's sole field — mixed temporal specs cannot be " +
        "witnessed; load via INSERT INTO ... SELECT")
    require(truncFields.isEmpty ||
        (truncFields.size == 1 && specFields.size == 1),
      s"add_files on ${ident.name}: a truncate partition field imports " +
        "only as the spec's sole field — mixed truncate specs cannot be " +
        "witnessed; load via INSERT INTO ... SELECT")
    // bucket witness: the bucket id lives in the Spark bucketed-file
    // name (part-....._NNNNN...), and Spark's bucket function is
    // pmod(murmur3(col, seed 42), n) — bit-identical to graft's
    // write-side dirExpr and BucketBound, which is PROVEN per import by
    // recomputing the bucket over every row (below) so a lake bucketed
    // by any other hash (e.g. Hive's) refuses instead of silently
    // mis-joining under SPJ
    val bucketImport: Option[(String, Int, String)] = bucketFields match {
      case Seq(f) =>
        val n = "bucket\\[(\\d+)\\]".r.findFirstMatchIn(f.transform)
          .get.group(1).toInt
        Some((idToName(f.sourceId), n, f.name))
      case _ => None
    }
    // temporal witness (year=YYYY[/month=MM[/day=DD[/hour=HH]]] dirs, or
    // one dir whose value already is the rendered form, e.g.
    // dt=2024-01): the value is witnessed by the dirs and PROVEN per
    // import by one column-pruned job rendering the native dirExpr over
    // every row — the source column stays in the footers, so unlike
    // identity hive imports nothing needs an overlay and the files read
    // vectorized
    val temporalImport: Option[(String, String, String)] = temporalFields match {
      case Seq(f) => Some((idToName(f.sourceId), f.transform, f.name))
      case _ => None
    }
    // truncate witness (one `k=v` dir per file whose value is the
    // rendered truncate[n] form — the prefix for strings, the width
    // multiple for ints): like temporal, the value is witnessed by the
    // dir and PROVEN per import by one column-pruned job rendering the
    // native dirExpr over every row; the source column stays in the
    // footers, so reads stay vectorized with no overlay
    val truncImport: Option[(String, Int, String)] = truncFields match {
      case Seq(f) =>
        val n = "truncate\\[(\\d+)\\]".r.findFirstMatchIn(f.transform)
          .get.group(1).toInt
        Some((idToName(f.sourceId), n, f.name))
      case _ => None
    }
    val partIdentityCols: Seq[String] = identityFields.map { f =>
      val c = idToName(f.sourceId)
      require(exactRender.contains(tableSchema0.fields(
          tableSchema0.fieldIndex(c)).dataType),
        s"add_files on ${ident.name}: identity partition column '$c' has " +
          "a type whose directory rendering does not round-trip; load via " +
          "INSERT INTO ... SELECT")
      c
    }
    if (partIdentityCols.nonEmpty || bucketImport.isDefined
        || temporalImport.isDefined || truncImport.isDefined) {
      val mor = Seq("write.delete.mode", "write.update.mode", "write.merge.mode")
        .exists(k => base.properties.get(k).contains("merge-on-read"))
      require(!mor && !base.properties.contains("identifier-fields"),
        s"add_files on ${ident.name}: partitioned imports require a " +
          "copy-on-write table without identifier-fields — delete keys and " +
          "row coordinates cannot be served from files that hold their " +
          "partition columns in directories (and bucketed imports keep the " +
          "same conservative guard)")
    }
    val cur = SchemaBridge.idNames(base.currentSchema)
    base.schemas.foreach { s =>
      SchemaBridge.idNames(s).foreach { case (id, n) =>
        cur.get(id).filter(_ != n).foreach { cn =>
          throw new IllegalArgumentException(
            s"add_files refuses table ${ident.name}: column '$n' was " +
              s"renamed to '$cn' in its schema history, so live files " +
              "may need field-id resolution — id-less imported files " +
              "cannot share their scans; load via INSERT INTO ... SELECT")
        }
      }
    }
    // hive dir coverage: every file's k=v segments must cover exactly
    // the partition columns (raw/escaped values transfer verbatim —
    // both layouts escape with the same scheme), and each value must
    // parse back under the column's type. Unknown k=v keys refuse: a
    // key naming a non-partition table column would silently lose its
    // values (hive files keep dir columns out of the footer).
    def rawKvs(rel: String): Map[String, String] =
      rel.split("/").init.iterator.flatMap { seg =>
        seg.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => Some(k -> v)
          case _ => None
        }
      }.toMap
    require(partitionFilter.isEmpty || partIdentityCols.nonEmpty,
      s"add_files on ${ident.name}: partition_filter requires an " +
        "identity-partitioned table")
    require(partitionFilter.keySet.subsetOf(partIdentityCols.toSet),
      s"add_files on ${ident.name}: partition_filter keys " +
        s"${(partitionFilter.keySet -- partIdentityCols).mkString(",")} " +
        "are not identity partition columns")
    val srcRels = {
      val all = store.listParquetUnder(sourceDir)
      if (partitionFilter.isEmpty) all
      else all.filter { r =>
        val kv = rawKvs(r)
        // match LOGICAL partition values (Iceberg's partition_filter
        // semantics, r8 advice): dir renderings are %-escaped, so a
        // value with a space or colon must not force the caller to
        // pass its escaped form
        partitionFilter.forall { case (k, v) =>
          kv.get(k).map(org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName).contains(v) }
      }
    }
    require(srcRels.nonEmpty,
      s"no parquet files under $sourceDir" +
        (if (partitionFilter.isEmpty) ""
         else s" matching ${partitionFilter.map { case (k, v) => s"$k=$v" }
           .mkString(",")}"))
    val srcDirKvs: Map[String, Map[String, String]] =
      if (partIdentityCols.isEmpty) Map.empty
      else srcRels.map { r =>
        val kvs = rawKvs(r)
        val unknown = kvs.keySet -- partIdentityCols
        require(unknown.isEmpty,
          s"add_files on ${ident.name}: source file $r carries partition " +
            s"dirs ${unknown.mkString(",")} that are not identity partition " +
            "columns of the table")
        partIdentityCols.foreach { c =>
          val raw = kvs.getOrElse(c, throw new IllegalArgumentException(
            s"add_files on ${ident.name}: source file $r lacks a '$c=' " +
              "partition directory"))
          val dt = tableSchema0.fields(tableSchema0.fieldIndex(c)).dataType
          val unescaped = org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(raw)
          require(ImportOverlay.internalValue(dt, unescaped).isDefined,
            s"add_files on ${ident.name}: dir value '$c=$raw' of $r does " +
              s"not parse as ${dt.simpleString}")
        }
        r -> kvs
      }.toMap

    // ORDER of validation: driver-side WITNESSING first (dir parses,
    // file-name parses — cheap, and their refusals name the actual
    // layout problem), then the footer-schema check, then the
    // DISTRIBUTED proof jobs. The schema check must precede the proof
    // jobs: a lake whose witness column is absent from the footers gets
    // the accurate "lack table column" message, never a proof-job
    // misdiagnosis (e.g. "rows with NULL" from reading an absent column
    // as nulls).

    // bucket witness: parse each file's bucket id from the Spark
    // bucketBy file name (proof of the hash family runs below, after
    // the schema check)
    val srcBuckets: Map[String, Int] = bucketImport match {
      case None => Map.empty
      case Some((_, n, _)) =>
        val BucketFile = """.*_(\d+)(?:\..*)?$""".r
        srcRels.map { r =>
          val b = r.split('/').last match {
            case BucketFile(d) => d.toInt
            case _ => throw new IllegalArgumentException(
              s"add_files on ${ident.name}: source file $r does not carry " +
                "a Spark bucketBy bucket suffix (part-..._NNNNN...) — its " +
                "bucket cannot be witnessed; load via INSERT INTO ... SELECT")
          }
          require(b < n,
            s"add_files on ${ident.name}: source file $r claims bucket $b " +
              s"but the table spec has $n buckets")
          r -> b
        }.toMap
    }
    // temporal witness: assemble each file's partition value from its
    // hive dirs (the per-row dirExpr proof runs below)
    val srcTemporalVals: Map[String, String] = temporalImport match {
      case None => Map.empty
      case Some((c, tr, _)) =>
        import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
        val dt = tableSchema0.fields(tableSchema0.fieldIndex(c)).dataType
        require(Seq(DateType, TimestampNTZType, TimestampType).contains(dt),
          s"add_files on ${ident.name}: temporal partition source '$c' has " +
            s"type ${dt.simpleString}, expected date/timestamp")
        require(dt != TimestampType || PartitionTransforms.sessionUtc,
          s"add_files on ${ident.name}: temporal import over instant " +
            s"column '$c' requires a UTC session — dir values witness UTC " +
            "wall times, and a non-UTC session would render (and later " +
            "prune) different ones")
        val levels = Seq("year", "month", "day", "hour")
        val depth = levels.indexOf(tr) + 1
        val nestedKeys = levels.take(depth)
        def assemble(rel: String): String = {
          def refuse(why: String): Nothing = throw new IllegalArgumentException(
            s"add_files on ${ident.name}: source file $rel $why — a " +
              s"$tr($c) partition cannot be witnessed; load via " +
              "INSERT INTO ... SELECT")
          val kvs = rawKvs(rel).map { case (k, v) =>
            k -> org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.unescapePathName(v) }
          // two accepted layouts: nested hive dirs named for the levels
          // (year=2024/month=1 — values unpadded or padded), or ONE dir
          // whose value is already the rendered form (dt=2024-01)
          // digits-only AND bounded length: an 11-digit "year" must hit
          // the refusal message, not a raw NumberFormatException from
          // toInt (the y<=9999 guard below never runs if parsing throws)
          def numeric(v: String): Boolean =
            v.nonEmpty && v.length <= 9 && v.forall(_.isDigit)
          val parts: Seq[Int] =
            if (kvs.keySet == nestedKeys.toSet) nestedKeys.map { k =>
              val v = kvs(k)
              if (!numeric(v)) refuse(s"carries non-numeric '$k=$v'")
              v.toInt
            }
            else if (kvs.size == 1) {
              val v = kvs.values.head
              val seg = v.split("-", -1)
              if (seg.length != depth || seg.exists(s => !numeric(s)))
                refuse(s"dir value '$v' is not the rendered $tr form")
              seg.toSeq.map(_.toInt)
            }
            else refuse(s"carries partition dirs " +
              s"${kvs.keys.toSeq.sorted.mkString(",")} that do not " +
              s"witness $tr($c)")
          val y = parts.head
          val m = if (depth >= 2) parts(1) else 1
          val d = if (depth >= 3) parts(2) else 1
          val h = if (depth >= 4) parts(3) else 0
          if (y < 1 || y > 9999 || h > 23)
            refuse(s"dir value renders outside the layout's domain")
          try java.time.LocalDate.of(y, m, d) catch {
            case _: java.time.DateTimeException =>
              refuse(s"dir date $y-$m-$d is not a real date")
          }
          // native renderings: year(col) is unpadded; deeper levels are
          // date_format patterns (yyyy-MM[-dd[-HH]]), zero-padded
          if (depth == 1) y.toString
          else (f"$y%04d" +: parts.tail.map(p => f"$p%02d")).mkString("-")
        }
        srcRels.map(r => r -> assemble(r)).toMap
    }
    // truncate witness: each file carries exactly ONE `k=v` dir whose
    // unescaped value is the rendered truncate form; the raw (escaped)
    // rendering transfers verbatim into the `__part_` landing dir —
    // both layouts escape with the same scheme. Driver-side domain
    // checks here (the per-row dirExpr proof runs below): a string
    // prefix cannot exceed the width, an int value must be a width
    // multiple.
    val srcTruncVals: Map[String, (String, String)] = truncImport match {
      case None => Map.empty
      case Some((c, n, _)) =>
        import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
        val dt = tableSchema0.fields(tableSchema0.fieldIndex(c)).dataType
        require(Seq(StringType, IntegerType, LongType).contains(dt),
          s"add_files on ${ident.name}: truncate partition source '$c' has " +
            s"type ${dt.simpleString}, expected string/int/bigint")
        srcRels.map { r =>
          def refuse(why: String): Nothing = throw new IllegalArgumentException(
            s"add_files on ${ident.name}: source file $r $why — a " +
              s"truncate[$n]($c) partition cannot be witnessed; load via " +
              "INSERT INTO ... SELECT")
          val kvs = rawKvs(r)
          if (kvs.size != 1)
            refuse(s"carries ${kvs.size} partition dirs, expected the one " +
              "truncate-value dir")
          val raw = kvs.values.head
          val unescaped = org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(raw)
          dt match {
            case StringType =>
              if (unescaped.codePointCount(0, unescaped.length) > n)
                refuse(s"dir value '$unescaped' is longer than the " +
                  s"truncate width $n")
            case _ =>
              val v = try unescaped.toLong catch {
                case _: NumberFormatException =>
                  refuse(s"carries non-numeric dir value '$unescaped'")
              }
              if (java.lang.Math.floorMod(v, n.toLong) != 0L)
                refuse(s"dir value $v is not a multiple of the truncate " +
                  s"width $n")
          }
          r -> (raw, unescaped)
        }.toMap
    }
    // the merged FOOTER schema must serve every table column by name
    // with a structurally equal type; EXTRA source columns are fine
    // (requests clip by name), but a missing or mistyped one would
    // null-fill or fail mid-query — refuse up front. Files are passed
    // explicitly so hive partition inference cannot shadow footers;
    // dir-covered partition columns may be absent (served from dirs),
    // but when present they must still type-match (the request reads
    // them before the overlay patches).
    val tableSchema = tableSchema0
    val dirCovered: Set[String] =
      if (partIdentityCols.isEmpty) Set.empty else partIdentityCols.toSet
    val srcSchema = spark.read.option("mergeSchema", "true")
      .parquet(srcRels.map(r => s"$sourceDir/$r"): _*).schema
    tableSchema.fields.foreach { f =>
      srcSchema.fields.find(_.name == f.name) match {
        case None =>
          require(dirCovered.contains(f.name),
            s"source files under $sourceDir lack table column '${f.name}'")
        case Some(sf) =>
          require(org.apache.spark.sql.types.DataType.equalsStructurally(
              sf.dataType, f.dataType, true),
            s"source column '${f.name}' is ${sf.dataType.simpleString}, " +
              s"table expects ${f.dataType.simpleString}")
      }
    }
    // bucket PROOF: the hash family is verified by recomputing
    // pmod(murmur3(col), n) over every row in ONE column-pruned
    // distributed job — the one-time import cost that makes the
    // zero-copy SPJ claim sound; a lake bucketed by any other hash
    // (e.g. Hive's) refuses instead of silently mis-joining under SPJ
    bucketImport.foreach { case (c, n, _) =>
      import org.apache.spark.sql.functions.{col => fc, collect_set, hash => fhash, input_file_name, lit, pmod}
      val dt = tableSchema0.fields(tableSchema0.fieldIndex(c)).dataType
      val computed = spark.read
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(c, dt))))
        .parquet(srcRels.map(r => s"$sourceDir/$r"): _*)
        .select(input_file_name().as("__f"),
          pmod(fhash(fc(c)), lit(n)).as("__b"))
        .groupBy(fc("__f")).agg(collect_set(fc("__b")).as("bs"))
        .collect()
      computed.foreach { row =>
        val f = row.getString(0)
        val rel = srcRels.find(r => decodedScanPath(f).endsWith("/" + r))
          .getOrElse(
          throw new IllegalStateException(
            s"bucket verification could not map scanned file $f back to " +
              "a source file"))
        val got = row.getSeq[Int](1).toSet
        require(got.subsetOf(Set(srcBuckets(rel))),
          s"add_files on ${ident.name}: source file $rel claims bucket " +
            s"${srcBuckets(rel)} but its rows hash to buckets " +
            s"${got.toSeq.sorted.mkString(",")} under graft's " +
            "pmod(murmur3, n) — the lake was bucketed by a different " +
            "hash function; load via INSERT INTO ... SELECT")
      }
    }
    // temporal PROOF: render the NATIVE dirExpr (the exact form
    // write-side layout and replay pruning use) over every row in one
    // column-pruned job — a lake whose dirs lie about its rows refuses
    // instead of silently mis-pruning
    temporalImport.foreach { case (c, tr, _) =>
      val dt = tableSchema0.fields(tableSchema0.fieldIndex(c)).dataType
      import org.apache.spark.sql.functions.{col => fc, collect_set, input_file_name, sum => fsum}
      val ex = PartitionTransforms.dirExpr(tr, c, dt).getOrElse(
        throw new IllegalStateException(
          s"no native dir rendering for $tr(${dt.simpleString})")).cast("string")
      val computed = spark.read
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(c, dt))))
        .parquet(srcRels.map(r => s"$sourceDir/$r"): _*)
        .select(input_file_name().as("__f"), ex.as("__v"))
        .groupBy(fc("__f"))
        .agg(collect_set(fc("__v")).as("vs"),
          fsum(fc("__v").isNull.cast("long")).as("nn"))
        .collect()
      computed.foreach { row =>
        val f = row.getString(0)
        val rel = srcRels.find(r => decodedScanPath(f).endsWith("/" + r))
          .getOrElse(
          throw new IllegalStateException(
            s"temporal verification could not map scanned file $f back " +
              "to a source file"))
        require(row.getLong(2) == 0L,
          s"add_files on ${ident.name}: source file $rel holds rows " +
            s"with NULL '$c' — they cannot live under a witnessed " +
            s"$tr dir; load via INSERT INTO ... SELECT")
        val got = row.getSeq[String](1).toSet
        require(got.subsetOf(Set(srcTemporalVals(rel))),
          s"add_files on ${ident.name}: source file $rel claims $tr " +
            s"value '${srcTemporalVals(rel)}' but its rows render to " +
            s"${got.toSeq.sorted.mkString(",")} — the dirs do not " +
            s"witness $tr($c); load via INSERT INTO ... SELECT")
      }
    }
    // truncate PROOF: render the NATIVE truncate dirExpr (the exact
    // form write-side layout and replay pruning use) over every row in
    // one column-pruned job — a lake whose prefix dirs lie about its
    // rows refuses instead of silently mis-pruning
    truncImport.foreach { case (c, n, _) =>
      val dt = tableSchema0.fields(tableSchema0.fieldIndex(c)).dataType
      import org.apache.spark.sql.functions.{col => fc, collect_set, input_file_name, sum => fsum}
      val ex = PartitionTransforms.dirExpr(s"truncate[$n]", c, dt).getOrElse(
        throw new IllegalStateException(
          s"no native dir rendering for truncate[$n](${dt.simpleString})"))
        .cast("string")
      val computed = spark.read
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(c, dt))))
        .parquet(srcRels.map(r => s"$sourceDir/$r"): _*)
        .select(input_file_name().as("__f"), ex.as("__v"))
        .groupBy(fc("__f"))
        .agg(collect_set(fc("__v")).as("vs"),
          fsum(fc("__v").isNull.cast("long")).as("nn"))
        .collect()
      computed.foreach { row =>
        val f = row.getString(0)
        val rel = srcRels.find(r => decodedScanPath(f).endsWith("/" + r))
          .getOrElse(
          throw new IllegalStateException(
            s"truncate verification could not map scanned file $f back " +
              "to a source file"))
        require(row.getLong(2) == 0L,
          s"add_files on ${ident.name}: source file $rel holds rows " +
            s"with NULL '$c' — they cannot live under a witnessed " +
            "truncate dir; load via INSERT INTO ... SELECT")
        val got = row.getSeq[String](1).toSet
        require(got.subsetOf(Set(srcTruncVals(rel)._2)),
          s"add_files on ${ident.name}: source file $rel claims " +
            s"truncate[$n] value '${srcTruncVals(rel)._2}' but its rows " +
            s"render to ${got.toSeq.sorted.mkString(",")} — the dirs do " +
            s"not witness truncate[$n]($c); load via INSERT INTO ... SELECT")
      }
    }
    val dataDir = store.dataDir(ns, ident.name)
    val relDir = s"${GraftTable.ImportDirPrefix}${java.util.UUID.randomUUID()}"
    // partitioned: land each file under its `__part_` rendering so dir
    // replay pruning, the $partitions view, and partition-scoped
    // maintenance see it exactly like a native file; the filename keeps
    // a per-file index prefix so nested source layouts cannot collide
    val targets: Seq[(String, String)] =
      if (bucketImport.isDefined)
        // land each file under its witnessed dirs — identity dirs first,
        // then the bucket dir, the native write layout's order — so dir
        // replay pruning, SPJ grouping, $partitions, and
        // partition-scoped maintenance see it exactly like a native file
        srcRels.zipWithIndex.map { case (r, i) =>
          val idDirs = partIdentityCols
            .map(c => s"__part_$c=${srcDirKvs(r)(c)}")
          val dirs = (idDirs :+
            s"__part_${bucketImport.get._3}=${srcBuckets(r)}").mkString("/")
          r -> s"$dirs/f$i-${r.split('/').last}"
        }
      else if (temporalImport.isDefined)
        // witnessed + proven rendered values are digits-and-dashes —
        // path-safe verbatim — and match the native dirExpr layout, so
        // replay pruning and temporal SPJ treat these files natively
        srcRels.zipWithIndex.map { case (r, i) =>
          r -> s"__part_${temporalImport.get._3}=${srcTemporalVals(r)}/f$i-${r.split('/').last}"
        }
      else if (truncImport.isDefined)
        // the RAW (escaped) dir value transfers verbatim — both layouts
        // escape with the same scheme — so replay range pruning
        // (cmpDir's numeric / unsigned-UTF-8 prefix order) treats these
        // files natively
        srcRels.zipWithIndex.map { case (r, i) =>
          r -> s"__part_${truncImport.get._3}=${srcTruncVals(r)._1}/f$i-${r.split('/').last}"
        }
      else if (partIdentityCols.isEmpty) srcRels.map(r => r -> r)
      else srcRels.zipWithIndex.map { case (r, i) =>
        val kvs = srcDirKvs(r)
        val dirs = partIdentityCols
          .map(c => s"__part_$c=${kvs(c)}").mkString("/")
        r -> s"$dirs/f$i-${r.split('/').last}"
      }
    targets.foreach { case (src, dst) =>
      store.importFile(s"$sourceDir/$src", s"$dataDir/$relDir/$dst") }
    val newFiles = targets.map { case (_, dst) => s"$relDir/$dst" }.toList
    try {
      val stats = graft.meta.FileStats.harvestAll(spark, dataDir, newFiles)
      val m = commit(ident,
        Seq(Requirement.AssertCurrentSchemaId(base.currentSchemaId)),
        Seq(MetadataUpdate.AppendFiles(newFiles, System.currentTimeMillis(),
          stats, extraSummary = Map("import-source" -> sourceDir))))
      (m, newFiles.size)
    } catch { case e: Throwable =>
      // failed commit (raced schema change, CAS exhaustion): the links
      // are orphans — remove them before surfacing the failure
      store.deleteTree(s"$dataDir/$relDir")
      throw e
    }
  }

  /** Maintenance: compact the current snapshot's files into
    * `targetFileCount` files (small-file problem at scale). Reads the
    * snapshot pinned at entry (VERSION AS OF), rewrites coalesced data,
    * and commits a ReplaceFiles snapshot guarded by
    * AssertCurrentSnapshotId — an append that lands between the scan and
    * the CAS makes this attempt fail (instead of being silently dropped
    * by re-applying the precomputed file list), and compaction rescans
    * from the fresh state. Readers see either the old or the new layout,
    * never a mix. */
  def compact(ident: Identifier, targetFileCount: Int = 1,
              maxAttempts: Int = 3): TableMetadata =
    compact(ident, targetFileCount, maxAttempts, Nil, Map.empty, None)

  /** Partition-scoped compaction: rewrite ONLY the files whose partition
    * dir keys match every entry of `partition` (dir-key names as they
    * appear in `$partitions`/file paths — identity columns by name,
    * transforms by their rendered key). The maintenance shape a 100 TB
    * table actually runs: yesterday's hot partition accumulated 500
    * small streaming commits — compact THAT, not the table. Untouched
    * partitions keep their exact files (a `RewriteFiles` commit swaps
    * the affected subset atomically); live delete files apply to the
    * subset read and keep applying to the untouched rest. */
  def compactPartition(ident: Identifier, partition: Map[String, String],
                       targetFileCount: Int = 1,
                       maxAttempts: Int = 3): TableMetadata = {
    require(partition.nonEmpty, "compactPartition needs at least one dir key")
    compact(ident, targetFileCount, maxAttempts, Nil, partition, None)
  }

  /** Small-file (bin-packing) compaction: merge ONLY the files below
    * `smallerThanBytes` — the fragments streaming epochs and small
    * upserts leave behind — and keep every right-sized file untouched
    * (its path, stats, and sort stamp survive). Optionally partition-
    * scoped. A no-op (zero commits) when fewer than two small files
    * match, so it's safe on a maintenance schedule. */
  def compactSmallFiles(ident: Identifier, smallerThanBytes: Long,
                        partition: Map[String, String] = Map.empty,
                        targetFileCount: Int = 1,
                        maxAttempts: Int = 3): TableMetadata = {
    require(smallerThanBytes > 0, "smallerThanBytes must be positive")
    compact(ident, targetFileCount, maxAttempts, Nil, partition,
      Some(smallerThanBytes))
  }

  /** [[compact]] with MULTI-DIMENSIONAL (Z-order) clustering: rows are
    * range-partitioned and sorted by the bit-interleaving of the
    * `zorderCols` values normalized to 256 buckets each (bounds from one
    * min/max pass), so every clustered column — not just a leading sort
    * key — gets narrow per-file min/max ranges and the manifest pruner
    * can skip files on ANY of them. The layout verb behind "queries
    * filter this 100 TB table by time AND by user id". Linear bucket
    * scaling (documented trade: a pathologically skewed column wastes
    * bucket resolution; re-cluster after major skew shifts). */
  def compactZOrder(ident: Identifier, zorderCols: Seq[String],
                    targetFileCount: Int = 8,
                    maxAttempts: Int = 3): TableMetadata = {
    require(zorderCols.size >= 2,
      "Z-order needs at least two columns (one column = plain sort order)")
    compact(ident, targetFileCount, maxAttempts, zorderCols, Map.empty, None)
  }

  /** Merge a table's accumulated POSITION-delete files into one
    * deduplicated set without touching any data file — the light
    * maintenance verb between DML and full compaction (every keyless
    * UPDATE/MERGE adds small delete files; this keeps the live set,
    * and with it the reader's driver budget, bounded). Old delete
    * files stay on disk for time travel; expiry reclaims them.
    * Equality flavors refuse: their sequence scoping cannot merge
    * without widening applicability — compact instead. Returns
    * (removed, added) delete-file counts. */
  def rewritePositionDeletes(ident: Identifier): (Int, Int) = {
    val ns = ident.namespace.toSeq
    val spark = org.apache.spark.sql.SparkSession.active
    val (meta, _) = store.load(ns, ident.name)
    val snap = meta.currentSnapshot.getOrElse(return (0, 0))
    val dels = snap.deleteFiles
    require(dels.forall(_.keyFieldIds.isEmpty),
      s"table ${ident.name} carries equality-delete files — their sequence " +
        "scoping cannot merge; CALL compact instead")
    if (dels.size <= 1) return (0, 0)
    val dataDir = store.dataDir(ns, ident.name)
    val relDir = s"commit-posrw-${java.util.UUID.randomUUID()}-deletes"
    // persisted: the count (loss check below) and the write must not
    // each re-run the read + dedup shuffle on exactly the large sets
    // this procedure exists for
    val merged = spark.read.schema(PosDelta.deleteFileSchema)
      .parquet(dels.map(d => s"$dataDir/${d.path}"): _*)
      .dropDuplicates("file", "pos")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val expected = merged.count()
    // one output file per ~32 MB of input marks — the whole point is a
    // BOUNDED live set, so never let the dedup shuffle's partitioning
    // (default 200) decide the file count
    val targetFiles = math.max(1L,
      dels.map(MergeOnRead.estBytes).sum / (32L << 20)).toInt
    try merged.coalesce(targetFiles).write.parquet(s"$dataDir/$relDir")
    finally merged.unpersist()
    val rels = store.listParquetUnder(s"$dataDir/$relDir").map(f => s"$relDir/$f")
    val hconf = spark.sessionState.newHadoopConf()
    val defs = rels.map { rel =>
      graft.meta.DeleteFileDef(rel, snap.snapshotId, Nil,
        graft.meta.FileStats.rowCount(s"$dataDir/$rel", hconf).getOrElse(0L),
        store.fileSizeBytes(s"$dataDir/$rel").getOrElse(0L))
    }.filter(_.rows > 0)
    def abort(reason: String): Nothing = {
      rels.foreach(rel => store.deleteFileIfExists(s"$dataDir/$rel"))
      store.deleteTree(s"$dataDir/$relDir")
      throw new IllegalStateException(
        s"rewrite_position_deletes aborted on ${ident.name}: $reason")
    }
    // the commit REMOVES every old delete file — a merged set that lost
    // marks (unreadable footer counted as 0, partial write) must abort
    // loudly, never resurrect rows
    if (defs.map(_.rows).sum != expected)
      abort(s"merged files carry ${defs.map(_.rows).sum} marks, " +
        s"expected $expected")
    try store.commitOps(ns, ident.name,
      // the merged set was derived from exactly this snapshot
      Seq(graft.commit.Requirement.AssertCurrentSnapshotId(meta.currentSnapshotId)),
      Seq(MetadataUpdate.RewriteDeletes(dels.map(_.path).toList, defs.toList,
        System.currentTimeMillis())))
    catch { case e: Throwable =>
      rels.foreach(rel => store.deleteFileIfExists(s"$dataDir/$rel"))
      throw e
    }
    (dels.size, defs.size)
  }

  private def compact(ident: Identifier, targetFileCount: Int,
                      maxAttempts: Int, zorderCols: Seq[String],
                      partition: Map[String, String],
                      smallerThan: Option[Long]): TableMetadata = {
    val ns = ident.namespace.toSeq
    val spark = org.apache.spark.sql.SparkSession.active
    val fqn = (name() +: ident.namespace :+ ident.name).mkString(".")
    var attempt = 0
    while (true) {
      attempt += 1
      val (base, version) = store.load(ns, ident.name)
      // partition scope: the affected set is decided by dir-key replay
      // against the asserted snapshot — whole files in or out, and the
      // CAS retry recomputes it against the fresh base
      val affected: Option[List[String]] =
        if (partition.isEmpty && smallerThan.isEmpty) None
        else {
          val files = base.currentSnapshot.map(_.files).getOrElse(Nil)
          val inPartition = files.filter { f =>
            val kv = PartitionDirs.kvs(f)
            partition.forall { case (k, v) => kv.get(k).contains(v) }
          }
          // empty table or a pure smaller_than sweep with nothing to
          // match: a maintenance-schedule no-op, never an error — the
          // require is reserved for an EXPLICIT partition scope that
          // matches nothing (r7 advice)
          if (inPartition.isEmpty) {
            require(partition.isEmpty,
              s"no files of ${ident.name} match partition " +
                partition.map { case (k, v) => s"$k=$v" }.mkString(","))
            return base
          }
          // small-file scope: bin-pack ONLY the fragments (streaming
          // epochs, tiny upserts); already-right-sized files keep their
          // paths, stats, and sort-stamp. Lengths come from the
          // manifest's memoized dir listings — no per-file stat calls.
          val hit = smallerThan match {
            case None => inPartition
            case Some(bytes) =>
              val dataDir = store.dataDir(ns, ident.name)
              val lens = ManifestFileIndex
                .statusesFor(spark, dataDir, inPartition)
                .map(_.getLen)
              inPartition.zip(lens).collect {
                case (f, l) if l < bytes => f
              }
          }
          if (smallerThan.isDefined && hit.size < 2)
            return base // 0/1 small files: nothing to merge, no commit
          Some(hit)
        }
      // scan exactly the snapshot we assert on — not whatever is current
      // by the time the job runs; a partition scope reads the affected
      // subset THROUGH the live delete files (net rows), never raw
      val current = affected match {
        case None => spark.sql(s"SELECT * FROM $fqn VERSION AS OF $version")
        case Some(hit) =>
          val t = loadTable(ident, version.toString).asInstanceOf[GraftTable]
          org.apache.spark.sql.GraftDatasets.ofRows(spark,
            org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
              .create(t.fileSubsetTable(hit, keepDeletes = true),
                None, None, CaseInsensitiveStringMap.empty()))
      }
      val commitId = java.util.UUID.randomUUID().toString
      val relDir = s"compact-$commitId"
      val outDir = store.dataDir(ns, ident.name) + "/" + relDir
      // honor the declared write.sort-order: a plain repartition would
      // interleave the sort key across the compacted files, silently
      // destroying the min/max stats skipping the order exists to feed
      val sortCols = WriteShaping.sortCols(base.properties)
      // partition dirs derive FIRST so the within-partition sort can
      // lead with them: the dynamic-partition writer demands a dir-col
      // ordering and would otherwise insert its own (stability-
      // unspecified) sort, scrambling the per-file clustering this
      // whole pass exists to produce
      val (withDirs0, partDirCols) = WriteShaping.withPartitionDirs(current, base)
      val dirC = partDirCols.map(org.apache.spark.sql.functions.col)
      val clustered =
        if (zorderCols.nonEmpty) {
          import org.apache.spark.sql.functions._
          zorderCols.foreach { c =>
            val dt = current.schema.fields(current.schema.fieldIndex(c)).dataType
            require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
              dt == org.apache.spark.sql.types.TimestampType ||
              dt == org.apache.spark.sql.types.TimestampNTZType ||
              dt == org.apache.spark.sql.types.DateType,
              s"Z-order column '$c' must be numeric/temporal, got $dt")
          }
          // one pass for the bounds, then a pure column expression:
          // width_bucket to 256 levels per column, bits interleaved LSB
          // first — codegen'd end to end, no UDF, no per-row lambda
          def numeric(c: String) = col(c).cast("double")
          val bounds = current.agg(
            zorderCols.map(c => min(numeric(c))).head,
            (zorderCols.map(c => max(numeric(c))) ++
              zorderCols.drop(1).map(c => min(numeric(c)))): _*).head()
          val minOf = zorderCols.zipWithIndex.map { case (c, i) =>
            c -> (if (i == 0) bounds.getDouble(0)
                  else bounds.getDouble(zorderCols.size + i)) }.toMap
          val maxOf = zorderCols.zipWithIndex.map { case (c, i) =>
            c -> bounds.getDouble(1 + i) }.toMap
          val nBits = 8 // 256 buckets per dimension
          if (bounds.anyNull) withDirs0.repartition(targetFileCount) // empty/all-null
          else {
            def bucket(c: String) =
              // constant column: one bucket. width_bucket overflows to
              // nb+1 at the upper bound — clamp into [0, 255]
              if (minOf(c) == maxOf(c)) lit(0)
              else least(lit((1 << nBits) - 1), greatest(lit(0),
                (width_bucket(numeric(c), lit(minOf(c)), lit(maxOf(c)),
                  lit(1 << nBits)) - lit(1)).cast("int")))
            val zval = zorderCols.zipWithIndex.map { case (c, ci) =>
              (0 until nBits).map { bit =>
                shiftleft((bucket(c).bitwiseAND(lit(1 << bit)) =!= 0).cast("int"),
                  bit * zorderCols.size + ci)
              }.reduce(_ bitwiseOR _)
            }.reduce(_ bitwiseOR _)
            withDirs0.withColumn("__zval", zval)
              .repartitionByRange(targetFileCount, col("__zval"))
              .sortWithinPartitions((dirC :+ col("__zval")): _*)
              .drop("__zval")
          }
        } else if (sortCols.nonEmpty)
          withDirs0.repartitionByRange(targetFileCount, sortCols: _*)
            .sortWithinPartitions((dirC ++ sortCols): _*)
        else withDirs0.repartition(targetFileCount)
      // …the partition LAYOUT is preserved: compacted files keep their
      // __part_ dirs or partition pruning and partition-boundary
      // DELETE/overwrite stop working on the rewritten table
      val writer = if (partDirCols.nonEmpty)
        clustered.write.partitionBy(partDirCols: _*)
      else clustered.write
      writer.mode(org.apache.spark.sql.SaveMode.ErrorIfExists).parquet(outDir)
      val newFiles = store.listParquetUnder(outDir).map(f => s"$relDir/$f")
      val stats = graft.meta.FileStats.harvestAll(spark,
        store.dataDir(ns, ident.name), newFiles)
      try {
        return commit(ident,
          Seq(Requirement.AssertCurrentSnapshotId(base.currentSnapshotId),
            // a racing spec evolution changes no snapshot — without this
            // guard the compaction would silently rewrite the whole
            // table under the OLD layout
            Requirement.AssertDefaultSpecId(base.defaultSpecId)),
          // layout-only marker: row-level consumers (the Changes
          // feed) skip this snapshot — same rows, new files. A sorted
          // (non-Z-order) compaction also stamps the order its files
          // were laid out in, so keyed scans can report ordering
          Seq(affected match {
            case None =>
              MetadataUpdate.ReplaceFiles(newFiles, System.currentTimeMillis(),
                stats,
                extraSummary = Map("rewrite-kind" -> "compaction") ++
                  (if (zorderCols.isEmpty)
                     WriteShaping.sortStamp(base.properties)
                   else Map.empty))
            case Some(hit) =>
              // partition scope: swap ONLY the affected subset; kept
              // files, their stats/sequences, and the live delete files
              // ride through RewriteFiles untouched
              MetadataUpdate.RewriteFiles(hit, newFiles,
                System.currentTimeMillis(), stats,
                extraSummary = Map("rewrite-kind" -> "compaction") ++
                  (if (zorderCols.isEmpty)
                     WriteShaping.sortStamp(base.properties)
                   else Map.empty))
          }))
      } catch {
        case e: CommitFailedException =>
          // concurrent commit won — remove this attempt's orphaned output
          // and rescan the new state
          store.deleteTree(outDir)
          if (attempt >= maxAttempts) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Maintenance: roll the table back to an earlier snapshot — a pure
    * metadata commit (SetCurrentSnapshot) through the same optimistic
    * CAS as every other mutation; history and files stay intact, so the
    * rollback is itself time-travelable and reversible. */
  def rollback(ident: Identifier, snapshotId: Long): TableMetadata =
    commit(ident, Nil, Seq(MetadataUpdate.SetCurrentSnapshot(snapshotId)))

  /** Branch/tag maintenance verbs — named snapshot pointers
    * ([[graft.meta.RefDef]]). `snapshotId` defaults to the current
    * snapshot; an empty table cannot be branched/tagged (no snapshot to
    * point at). Reads resolve refs through `VERSION AS OF '<name>'`;
    * branch writes go through `df.writeTo(t).option("branch", name)`. */
  def createBranch(ident: Identifier, name: String,
                   snapshotId: Option[Long] = None): TableMetadata =
    setRef(ident, name, snapshotId, "branch")

  def createTag(ident: Identifier, name: String,
                snapshotId: Option[Long] = None): TableMetadata =
    setRef(ident, name, snapshotId, "tag")

  private def setRef(ident: Identifier, name: String,
                     snapshotId: Option[Long], refType: String): TableMetadata = {
    val (base, _) = store.load(ident.namespace.toSeq, ident.name)
    val sid = snapshotId.orElse(base.currentSnapshotId).getOrElse(
      throw new IllegalStateException(
        s"table ${ident.name} has no snapshot to $refType from"))
    commit(ident, Nil, Seq(MetadataUpdate.SetRef(name, sid, refType)))
  }

  def dropRef(ident: Identifier, name: String): TableMetadata =
    commit(ident, Nil, Seq(MetadataUpdate.RemoveRef(name)))

  /** Publish a branch (the write-audit-publish closing verb): move main
    * to the branch head, refusing if main moved since the fork — see
    * [[MetadataUpdate.FastForward]]. The branch ref survives publish
    * (drop it separately once the pipeline is done with it). */
  def fastForward(ident: Identifier, name: String): TableMetadata =
    commit(ident, Nil, Seq(MetadataUpdate.FastForward(name)))

  /** Partition-spec EVOLUTION: re-partition future writes without
    * touching a byte of existing data — a pure metadata commit that adds
    * a new default spec (the old one stays in `specs` for history).
    * Existing files keep their old layout and remain fully scannable
    * (files lacking a dir key are never pruned on it); writes from the
    * next load lay out the new dirs. Partition-boundary DELETE/overwrite
    * refuse on the mixed table — by design, they demand every file carry
    * the referenced keys — and [[compact]] rewrites everything under the
    * new spec, after which they work again. Guarded on the CURRENT
    * default spec so two racing evolutions can't both win. */
  def evolvePartitionSpec(ident: Identifier,
                          partitions: Array[Transform]): TableMetadata = {
    val ns = ident.namespace.toSeq
    val (base, _) = store.load(ns, ident.name)
    val byName = base.currentSchema.fields.map(f => f.name -> f.id).toMap
    val specId = base.specs.map(_.specId).max + 1
    // a new spec must never REUSE a dir-key name an earlier spec bound
    // to DIFFERENT transform semantics (bucket[4]→bucket[8] both default
    // to `<col>_bucket`): old files' dirs would replay under the new
    // transform and wrongly prune — or worse, wrongly overwrite — their
    // rows. Identical (name, transform) pairs may share (same
    // semantics); colliding ones get a spec-qualified name, which old
    // files simply don't carry (never pruned, boundary ops refuse until
    // compaction — the safe mixed-layout behavior).
    val priorByName: Map[String, Set[String]] = base.specs.flatMap(_.fields)
      .groupBy(_.name).view.mapValues(_.map(_.transform).toSet).toMap
    val fields = partitions.toList.map(t => TransformBridge.toField(t, byName))
      .map { f =>
        // rename if ANY prior spec bound this name differently — not
        // just the latest (two pre-existing specs can disagree)
        if (f.transform != "identity" &&
            priorByName.get(f.name).exists(_ != Set(f.transform)))
          f.copy(name = s"${f.name}_v$specId")
        else f
      }
    commit(ident,
      Seq(Requirement.AssertDefaultSpecId(base.defaultSpecId),
        // the sourceIds were resolved against THIS schema; a racing
        // column drop must fail the evolution, not leave a default spec
        // pointing at a dead field
        Requirement.AssertCurrentSchemaId(base.currentSchemaId)),
      Seq(MetadataUpdate.AddPartitionSpec(
        PartitionSpecDef(specId, fields))))
  }

  /** Maintenance: retain only the `keep` most recent metadata versions'
    * reachable state — deletes data files referenced by no retained
    * snapshot and removes older metadata versions. Time travel reaches
    * only retained versions afterwards.
    *
    * `graceMs`: unreferenced files younger than this are kept. A
    * concurrent writer stages parquet into `data/commit-<uuid>/` BEFORE
    * its CAS commit makes them referenced; without the grace window the
    * sweep would delete those staged files and the writer's subsequent
    * commit would reference nonexistent data. One hour >> any commit's
    * stage-to-CAS gap. */
  def expireSnapshots(ident: Identifier, keep: Int = 1,
                      graceMs: Long = 3600000L): Int = {
    require(keep >= 1, "must keep at least one version")
    val ns = ident.namespace.toSeq
    val latest = store.currentVersion(ns, ident.name)
    if (latest == 0) throw new NoSuchTableException(ident)
    val cutoff = math.max(latest - keep + 1, 1)
    val latestMeta = store.loadVersion(ns, ident.name, latest)
    val retainedMetas = (cutoff until latest).map(v =>
      store.loadVersion(ns, ident.name, v)) :+ latestMeta
    // trim expired snapshot ENTRIES out of the live document: without
    // this the snapshots list (headers + body references) grows with
    // every commit forever, and expired history pins its bodies against
    // GC. A retained version's current snapshot and every ref-pinned
    // snapshot stay; the verb re-validates refs on CAS retry.
    val live = liveSnapshots(latestMeta, retainedMetas)
    val liveIds = live.map(_.snapshotId).toSet
    val removable = latestMeta.snapshots.map(_.snapshotId).filterNot(liveIds)
    if (removable.nonEmpty)
      store.commitOps(ns, ident.name, Nil,
        Seq(graft.commit.MetadataUpdate.RemoveSnapshots(removable)))
    val removed = sweepData(ns, ident.name, live, graceMs)
    // drop expired metadata versions (current pointer = max version file)
    (1 until cutoff).foreach { v =>
      store.deleteFileIfExists(store.metadataLocation(ns, ident.name, v))
    }
    // GC snapshot bodies no RETAINED version references — the leftovers
    // of expired history and lost CAS retries. The grace window
    // protects bodies staged by commits whose CAS hasn't landed yet.
    val liveBodies = retainedMetas.flatMap(_.snapshots.flatMap(_.bodyRef)).toSet
    store.pruneSnapshotBodies(ns, ident.name, liveBodies, graceMs)
    removed
  }

  /** Delete data-dir files no RETAINED metadata version references —
    * the leftovers of aborted or crashed commits (their writers stage
    * parquet before the CAS, and a process death skips the cleanup
    * path). Unlike [[expireSnapshots]] this keeps every metadata
    * version: a file is live iff ANY version's current snapshot (or a
    * named ref) reaches it, so time travel is untouched. A version that
    * is absent (expired) holds no files; one that exists but cannot be
    * read aborts the sweep before it deletes anything, since the files
    * it references are unknown. */
  def removeOrphanFiles(ident: Identifier, graceMs: Long = 3600000L): Int = {
    val ns = ident.namespace.toSeq
    val latest = store.currentVersion(ns, ident.name)
    if (latest == 0) throw new NoSuchTableException(ident)
    val latestMeta = store.loadVersion(ns, ident.name, latest)
    val versions = (1 until latest).flatMap { v =>
      try Some(store.loadVersion(ns, ident.name, v))
      catch { case _: NoSuchTableException => None }
    } :+ latestMeta
    sweepData(ns, ident.name, liveSnapshots(latestMeta, versions), graceMs)
  }

  /** The liveness rule both maintenance verbs share: the current
    * snapshot of each of `versions`, plus every snapshot a named ref of
    * `latest` pins (a tagged "known good" snapshot survives). Only
    * current snapshots count: the history list of newer metadata
    * references every past file, and would keep everything forever. */
  private def liveSnapshots(latest: TableMetadata,
                            versions: Seq[TableMetadata]): Seq[SnapshotDef] = {
    val pinned = latest.refs.values.map(_.snapshotId).toSet
    versions.flatMap(_.currentSnapshot) ++ latest.snapshots.filter(s => pinned(s.snapshotId))
  }

  /** Delete the data-dir files no `live` snapshot holds as a data or
    * delete file and that are older than `graceMs` (see
    * [[expireSnapshots]]); a file whose age cannot be read counts as
    * young. @return the number of files deleted */
  private def sweepData(ns: Seq[String], table: String, live: Seq[SnapshotDef],
                        graceMs: Long): Int = {
    val files = live.flatMap(s => s.files ++ s.deleteFiles.map(_.path)).toSet
    val dataDir = store.dataDir(ns, table)
    val cutoff = System.currentTimeMillis() - graceMs
    store.listParquetUnder(dataDir).count { rel =>
      val abs = dataDir + "/" + rel
      !files(rel) && store.lastModifiedMs(abs).exists(_ <= cutoff) &&
        store.deleteFileIfExists(abs)
    }
  }

  // purgeTable: TableCatalog's default throws UnsupportedOperationException,
  // matching the reference's purge → NotImplemented (tables.go:288-295).

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    try store.renameTable(oldIdent.namespace.toSeq, oldIdent.name,
      newIdent.namespace.toSeq, newIdent.name)
    catch { case e: IllegalStateException =>
      throw new TableAlreadyExistsException(newIdent)
    }
    // re-point the metadata's location at the moved data dir: local
    // scans compute the path structurally and never read it, but a
    // DELEGATING front (RestMetadataStore) reaches the data through this
    // field — stale, it would scan the pre-rename path. Conditional so
    // a federated rename doesn't commit it twice: the BACKING catalog
    // already ran this fixup, and through a delegating store
    // dataDir == location by construction, so the guard is false there.
    val newNs = newIdent.namespace.toSeq
    val want = store.dataDir(newNs, newIdent.name)
    if (store.load(newNs, newIdent.name)._1.location != want)
      store.commitOps(newNs, newIdent.name, Nil,
        Seq(MetadataUpdate.SetLocation(want)))
  }

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace :+ ident.name).mkString(".")
}

/** Transform ↔ PartitionFieldDef bridge (hidden-partitioning vocabulary). */
object TransformBridge {
  def toField(t: Transform, idByName: Map[String, Int]): PartitionFieldDef = {
    def ref: String = t.references().head.fieldNames().mkString(".")
    def id: Int = idByName.getOrElse(ref,
      throw new IllegalArgumentException(s"unknown partition column $ref"))
    t.name() match {
      case "identity" => PartitionFieldDef(id, "identity", ref)
      case "bucket" =>
        val n = t.arguments().collectFirst {
          case lit: org.apache.spark.sql.connector.expressions.Literal[_] =>
            lit.value().toString.toInt }.get
        PartitionFieldDef(id, s"bucket[$n]", s"${ref}_bucket")
      case "years"  => PartitionFieldDef(id, "year", s"${ref}_year")
      case "months" => PartitionFieldDef(id, "month", s"${ref}_month")
      case "days"   => PartitionFieldDef(id, "day", s"${ref}_day")
      case "hours"  => PartitionFieldDef(id, "hour", s"${ref}_hour")
      case "truncate" =>
        val n = t.arguments().collectFirst {
          case lit: org.apache.spark.sql.connector.expressions.Literal[_] =>
            lit.value().toString.toInt }.get
        PartitionFieldDef(id, s"truncate[$n]", s"${ref}_trunc")
      case other => throw new IllegalArgumentException(s"transform $other")
    }
  }

  def toTransform(f: PartitionFieldDef, nameById: Map[Int, String]): Transform = {
    val col = nameById.getOrElse(f.sourceId, f.name)
    f.transform match {
      case "identity" => Expressions.identity(col)
      case "year" => Expressions.years(col)
      case "month" => Expressions.months(col)
      case "day" => Expressions.days(col)
      case "hour" => Expressions.hours(col)
      case b if b.startsWith("bucket[") =>
        Expressions.bucket(b.stripPrefix("bucket[").stripSuffix("]").toInt, col)
      case tr if tr.startsWith("truncate[") =>
        Expressions.apply("truncate",
          Expressions.literal(tr.stripPrefix("truncate[").stripSuffix("]").toInt),
          Expressions.column(col))
      case other => throw new IllegalArgumentException(s"transform $other")
    }
  }
}
