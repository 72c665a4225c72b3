package graft.catalog

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{PartitionSpec, PartitioningAwareFileIndex}

/** A file index built from what the CATALOG already knows — the
  * manifest's file list plus directory-batched lengths — instead of
  * `InMemoryFileIndex`'s per-file `getFileStatus` sweep. Planning a
  * query over a 100k-file table previously issued 100k driver-side
  * filesystem RPCs per query (the file-source index stats every
  * explicit path it is given); this index issues at most one
  * `listStatus` per NEW commit directory ever (lengths are memoized —
  * committed data files are immutable), so steady-state planning does
  * zero filesystem metadata calls. The Iceberg scaling argument,
  * applied to the delegate: plan from the manifest, not from listings.
  *
  * Partitioning is reported empty on purpose: graft's hidden
  * partitioning is pruned by the MANIFEST layer (dir replay +
  * min/max stats) before the delegate ever sees a file list, and
  * every downstream consumer (MorScan, KeyedScan, PosDeltaScan)
  * builds `PartitionedFile`s with empty partition values. */
private[graft] class ManifestFileIndex(
    spark: SparkSession, statuses: Array[FileStatus])
  extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  private val byPath = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
    statuses.foreach(s => m(s.getPath) = s)
    m
  }
  // precomputed: allFiles() consults this once PER ROOT PATH (and roots
  // here are the files themselves) — a def would make planning O(N²)
  private val byDir: Map[Path, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent)

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
  override protected def leafFiles
      : scala.collection.mutable.LinkedHashMap[Path, FileStatus] = byPath
  override protected def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    byDir
  override def rootPaths: Seq[Path] = statuses.map(_.getPath).toSeq
  override def refresh(): Unit = ()
}

private[graft] object ManifestFileIndex {

  /** qualified file path → length, for COMMITTED files only. Safety
    * argument: an entry is created only for a file some manifest
    * REFERENCES, and a referenced file was fully written before its
    * commit — immutable thereafter, so the entry never goes stale.
    * (Caching whole DIRECTORY listings would be wrong: the streaming
    * sink reuses one staging dir across epochs, so a listing can catch
    * a later epoch's file mid-write and freeze a partial length.) */
  private val fileLenCache = new graft.Lru[String, Long](bound = 1 << 20)

  /** Lengths for manifest-relative files under `dataDir`. Uncached
    * files are resolved with ONE fresh listStatus per distinct parent
    * directory (never a per-file stat sweep), and only the REQUESTED
    * names from each listing enter the cache — a neighboring in-flight
    * file is never recorded. */
  def lengthsFor(spark: SparkSession, dataDir: String,
                 rels: Seq[String]): Map[String, Long] = {
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new Path(dataDir).getFileSystem(hconf)
    val abs = rels.map { rel =>
      val p = fs.makeQualified(new Path(s"$dataDir/$rel"))
      (rel, p, fileLenCache.get(p.toString))
    }
    val listed: Map[String, Map[String, Long]] =
      abs.collect { case (_, p, None) => p.getParent }.distinct.map { dir =>
        dir.toString -> fs.listStatus(dir)
          .filter(_.isFile).map(s => s.getPath.getName -> s.getLen).toMap
      }.toMap
    abs.map { case (rel, p, known) =>
      rel -> known.getOrElse {
        val len = listed.get(p.getParent.toString).flatMap(_.get(p.getName))
          .getOrElse(fs.getFileStatus(p).getLen)
        fileLenCache.put(p.toString, len)
        len
      }
    }.toMap
  }

  /** Statuses for manifest-relative files under `dataDir` (see
    * [[lengthsFor]] for the caching discipline). */
  def statusesFor(spark: SparkSession, dataDir: String,
                  rels: Seq[String]): Array[FileStatus] = {
    val lens = lengthsFor(spark, dataDir, rels)
    val fs = new Path(dataDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    rels.map { rel =>
      // the index is consulted with QUALIFIED paths (scheme + authority)
      // — a raw path would never match allFiles()'s lookups
      val abs = fs.makeQualified(new Path(s"$dataDir/$rel"))
      // mtime 0 is safe: nothing downstream consults it (the
      // modification-time metadata column is never exposed)
      new FileStatus(lens(rel), false, 1, 128L << 20, 0L, abs)
    }.toArray
  }
}
