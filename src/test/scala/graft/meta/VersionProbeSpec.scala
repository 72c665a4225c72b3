package graft.meta

import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.HdfsLikeFileSystem
import graft.catalog.GraftCatalog
import graft.commit.MetadataUpdate

/** How [[BlobMetaStore]] finds a table's current version: a forward probe
  * from the newest version the process has seen, and a listing of
  * `metadata/` only when it has seen none or that one is gone. Each case
  * runs on every adapter. The store under test sits on a
  * [[CountingBlobStore]] view; a plain store over the same blobs acts as
  * another process, whose drops, recreates, expiries and renames leave
  * the first store's hints stale. */
class VersionProbeSpec extends AnyFunSuite {

  private val hadoopConf = {
    val c = new Configuration()
    c.set("fs.hdfslike.impl", classOf[HdfsLikeFileSystem].getName)
    c
  }

  private val adapters: Seq[(String, () => CasBlobStore)] = Seq(
    "posix" -> (() => new PosixBlobStore(
      Files.createTempDirectory("graft-probe-posix").toString)),
    "hadoop" -> (() => new HadoopBlobStore(
      "hdfslike://" + Files.createTempDirectory("graft-probe-hdfs"), hadoopConf)),
    "in-memory" -> (() => new InMemoryBlobStore))

  private val ns = Seq("db")
  private val schema = SchemaDef(0, List(FieldDef(1, "id", "long", required = false)))

  /** A store over a counting view of fresh blobs, and a plain store (the
    * other process) over the same blobs, with namespace `db`. */
  private final class Setup(mk: () => CasBlobStore) {
    val blobs: CasBlobStore = mk()
    val other = new BlobMetaStore(blobs)
    other.ensureRoot()
    other.createNamespace(ns, Map.empty)
    val counted = new CountingBlobStore(blobs)
    val store = new BlobMetaStore(counted)

    /** The reads, existence checks and listings `op` makes. */
    def calls(op: => Any): (Int, Int, Int) = {
      counted.reset()
      op
      (counted.reads.get, counted.stats.get, counted.lists.get)
    }
  }

  /** Create `t` as `uuid` and append `versions - 1` files to it, the
    * last named `<uuid>-<versions>.parquet`. */
  private def build(store: MetaStore, t: String, uuid: String, versions: Int): Unit = {
    store.createTable(ns, t, TableMetadata.empty(uuid, store.dataDir(ns, t), schema,
      PartitionSpecDef(0, Nil), SortOrderDef(0, Nil), Map.empty))
    (2 to versions).foreach(v =>
      store.commitOps(ns, t, Nil, Seq(MetadataUpdate.AppendFiles(List(s"$uuid-$v.parquet"), 1L))))
  }

  /** The uuid, version and newest file of the current snapshot a load
    * returns. */
  private def current(store: MetaStore, t: String): (String, Int, Option[String]) = {
    val (m, v) = store.load(ns, t)
    (m.tableUuid, v, m.currentSnapshot.flatMap(_.files.lastOption))
  }

  for ((name, mk) <- adapters) {

    test(s"$name: a 2,000-version table lists once; loads, exists checks and commits then probe") {
      val s = new Setup(mk)
      build(s.other, "t", "u", 1)
      val doc = s.blobs.get(s.other.metadataLocation(ns, "t", 1)).get
      (2 to 2000).foreach(v => s.blobs.put(s.other.metadataLocation(ns, "t", v), doc))

      assert(s.calls(assert(s.store.load(ns, "t")._2 == 2000))._3 == 1)
      // a probe is two existence checks (the next version, then the one it
      // stopped at); a load adds the read of that version's document
      (1 to 5).foreach { i =>
        assert(s.calls(assert(s.store.load(ns, "t")._2 == 1999 + i)) == (1, 2, 0))
        assert(s.calls(assert(s.store.tableExists(ns, "t"))) == (0, 2, 0))
        assert(s.calls(s.store.commitOps(ns, "t", Nil,
          Seq(MetadataUpdate.SetProperties(Map("i" -> i.toString))))) == (1, 2, 0))
      }
      assert(s.other.load(ns, "t")._2 == 2005)
      assert(s.other.load(ns, "t")._1.properties == Map("i" -> "5"))
    }

    test(s"$name: a table another store dropped and recreated loads as the new table") {
      val s = new Setup(mk)
      for ((versions, round) <- Seq(2, 4, 7).zipWithIndex) {
        // the store last saw version 4 of the old table
        build(s.store, s"t$round", s"old-$round", 4)
        assert(current(s.store, s"t$round") == ((s"old-$round", 4, Some(s"old-$round-4.parquet"))))
        assert(s.other.dropTable(ns, s"t$round"))
        build(s.other, s"t$round", s"new-$round", versions)
        assert(current(s.store, s"t$round") ==
          ((s"new-$round", versions, Some(s"new-$round-$versions.parquet"))), s"$versions versions")
        assert(s.store.loadVersion(ns, s"t$round", 1).tableUuid == s"new-$round")
      }
    }

    test(s"$name: a load after another store expired all but the newest version") {
      val s = new Setup(mk)
      build(s.store, "t", "u", 3)
      // the other store commits past what this one saw, then deletes every
      // version below its newest in ascending order, as expiry does
      (4 to 6).foreach(v => s.other.commitOps(ns, "t", Nil,
        Seq(MetadataUpdate.AppendFiles(List(s"u-$v.parquet"), 1L))))
      (1 to 5).foreach(v => assert(s.other.deleteFileIfExists(s.other.metadataLocation(ns, "t", v))))
      assert(current(s.store, "t") == (("u", 6, Some("u-6.parquet"))))
      assert(s.calls(current(s.store, "t"))._3 == 0)
      s.store.commitOps(ns, "t", Nil, Seq(MetadataUpdate.AppendFiles(List("u-7.parquet"), 1L)))
      assert(current(s.other, "t") == (("u", 7, Some("u-7.parquet"))))
    }

    test(s"$name: after a rename the old name is gone and the new one loads") {
      val s = new Setup(mk)
      build(s.store, "a", "ua", 3)
      build(s.store, "b", "ub", 2)
      s.store.renameTable(ns, "a", ns, "a2")
      intercept[NoSuchTableException](s.store.load(ns, "a"))
      assert(current(s.store, "a2") == (("ua", 3, Some("ua-3.parquet"))))
      // renamed by the other store: this one still holds a hint for "b"
      s.other.renameTable(ns, "b", ns, "b2")
      intercept[NoSuchTableException](s.store.load(ns, "b"))
      assert(!s.store.tableExists(ns, "b"))
      assert(current(s.store, "b2") == (("ub", 2, Some("ub-2.parquet"))))
    }
  }

  test("posix: expireSnapshots(keep = 1) in another catalog, then a load") {
    val wh = Files.createTempDirectory("graft-probe-expire").toString
    val catalog = new GraftCatalog
    catalog.initialize("probe", new CaseInsensitiveStringMap(java.util.Map.of("warehouse", wh)))
    val other = catalog.metadataStore
    other.createNamespace(ns, Map.empty)
    build(other, "t", "u", 5)
    val store = new BlobMetaStore(new CountingBlobStore(new PosixBlobStore(wh)))
    assert(current(store, "t") == (("u", 5, Some("u-5.parquet"))))
    (6 to 8).foreach(v => other.commitOps(ns, "t", Nil,
      Seq(MetadataUpdate.AppendFiles(List(s"u-$v.parquet"), 1L))))
    catalog.expireSnapshots(Identifier.of(ns.toArray, "t"), keep = 1, graceMs = 0L)
    assert(!Files.exists(Paths.get(other.metadataLocation(ns, "t", 5))))
    assert(current(store, "t") == (("u", 9, Some("u-8.parquet"))))
    assert(store.load(ns, "t")._1.snapshots.size == 1)
  }
}
