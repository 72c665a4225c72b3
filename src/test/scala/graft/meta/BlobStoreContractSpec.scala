package graft.meta

import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.scalatest.funsuite.AnyFunSuite

import graft.HdfsLikeFileSystem
import graft.commit.MetadataUpdate

/** The metadata-store protocol ([[BlobMetaStore]]) against each
  * create-if-absent adapter: a POSIX temp directory, a Hadoop FileSystem
  * with HDFS rename semantics (`hdfslike://`), and the in-memory object
  * store. Every case runs once per adapter, so a backend that bends the
  * contract fails by name. */
class BlobStoreContractSpec extends AnyFunSuite {

  private val hadoopConf = {
    val c = new Configuration()
    c.set("fs.hdfslike.impl", classOf[HdfsLikeFileSystem].getName)
    c
  }

  private val adapters: Seq[(String, () => CasBlobStore)] = Seq(
    "posix" -> (() => new PosixBlobStore(
      Files.createTempDirectory("graft-contract-posix").toString)),
    "hadoop" -> (() => new HadoopBlobStore(
      "hdfslike://" + Files.createTempDirectory("graft-contract-hdfs"), hadoopConf)),
    "in-memory" -> (() => new InMemoryBlobStore))

  private val ns = Seq("db")
  private val schema = SchemaDef(0, List(FieldDef(1, "id", "long", required = false)))
  private def meta0(store: MetaStore, t: String, props: Map[String, String] = Map.empty) =
    TableMetadata.empty(java.util.UUID.randomUUID().toString, store.dataDir(ns, t),
      schema, PartitionSpecDef(0, Nil), SortOrderDef(0, Nil), props)

  /** A store with namespace `db` and table `t` at v1. */
  private def fresh(blobs: CasBlobStore): BlobMetaStore = {
    val store = new BlobMetaStore(blobs)
    store.ensureRoot()
    store.createNamespace(ns, Map.empty)
    store.createTable(ns, "t", meta0(store, "t"))
    store
  }

  private def append(store: MetaStore, t: String, file: String): TableMetadata =
    store.commitOps(ns, t, Nil, Seq(MetadataUpdate.AppendFiles(List(file), 1L)))

  private def metaDir(store: MetaStore, t: String): String = {
    val v1 = store.metadataLocation(ns, t, 1)
    v1.substring(0, v1.lastIndexOf('/'))
  }

  /** Run `n` calls released together; results in call order. */
  private def race[A](n: Int)(body: Int => A): Seq[Either[Throwable, A]] = {
    val gate = new java.util.concurrent.CyclicBarrier(n)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try (0 until n).map(i => pool.submit(new java.util.concurrent.Callable[Either[Throwable, A]] {
      def call(): Either[Throwable, A] = { gate.await(); try Right(body(i)) catch { case e: Exception => Left(e) } }
    })).map(_.get())
    finally pool.shutdown()
  }

  for ((name, mk) <- adapters) {

    test(s"$name: 8 racing creates of one version, one table and one namespace each have one winner") {
      val store = fresh(mk())
      val (base, v) = store.load(ns, "t")
      val cas = race(8)(i => store.commit(ns, "t", v, base.copy(properties = Map("who" -> i.toString))))
      assert(cas.count(_ == Right(true)) == 1 && cas.count(_ == Right(false)) == 7, cas)
      val (m, v2) = store.load(ns, "t")
      assert(v2 == v + 1 && m.properties == Map("who" -> cas.indexOf(Right(true)).toString))

      val creates = race(8)(i => store.createTable(ns, "u", meta0(store, "u", Map("who" -> i.toString))))
      assert(creates.count(_.isRight) == 1, creates)
      assert(creates.collect { case Left(e) => e }.forall(_.isInstanceOf[IllegalStateException]), creates)
      val (mu, vu) = store.load(ns, "u")
      assert(vu == 1 && mu.properties("who") == creates.indexWhere(_.isRight).toString)

      val nss = race(8)(i => store.createNamespace(Seq("n"), Map("who" -> i.toString)))
      assert(nss.count(_.isRight) == 1, nss)
      assert(nss.collect { case Left(e) => e }.forall(_.isInstanceOf[IllegalStateException]), nss)
      assert(store.loadNamespace(Seq("n")) == Map("who" -> nss.indexWhere(_.isRight).toString))
    }

    test(s"$name: currentVersion ignores temp names and never walks data/") {
      val blobs = mk()
      val store = fresh(blobs)
      append(store, "t", "a.parquet")
      val md = metaDir(store, "t")
      Seq(".v9.metadata.json.tmp.0a1b", "v8.metadata.json.tmp.0a1b", "v7.metadata.json.part")
        .foreach(n => assert(blobs.putIfAbsent(blobs.resolve(md, n), "{}".getBytes)))
      val data = store.dataDir(ns, "t")
      blobs.mkdirs(s"$data/metadata")
      Seq("v99.metadata.json", "metadata/v98.metadata.json")
        .foreach(n => assert(blobs.putIfAbsent(s"$data/$n", "{}".getBytes)))
      assert(store.currentVersion(ns, "t") == 2)
      assert(store.load(ns, "t")._2 == 2)
      assert(store.listTables(ns) == Seq("t"))
    }

    test(s"$name: a missing version or table throws NoSuchTableException") {
      val blobs = mk()
      val store = fresh(blobs)
      intercept[NoSuchTableException](store.loadVersion(ns, "t", 99))
      intercept[NoSuchTableException](store.load(ns, "missing"))
      val cp = new ConditionalPutMetadata(blobs)
      intercept[NoSuchTableException](cp.loadVersion(ns, "t", 99))
      intercept[NoSuchTableException](cp.load(ns, "missing"))
      assert(cp.load(ns, "t")._2 == 1)
    }

    test(s"$name: a dropped-then-recreated table never serves the old bodies") {
      val blobs = mk()
      val store = fresh(blobs)
      append(store, "t", "old.parquet")
      val old = store.load(ns, "t")._1
      assert(old.currentSnapshot.get.files == List("old.parquet"))
      val oldBodies = old.snapshots.flatMap(_.bodyRef).toSet
      assert(oldBodies.size == 1 && blobs.list(metaDir(store, "t")).toSet.contains(oldBodies.head))
      assert(store.dropTable(ns, "t") && !store.tableExists(ns, "t"))
      intercept[NoSuchTableException](store.load(ns, "t"))

      store.createTable(ns, "t", meta0(store, "t"))
      assert(store.load(ns, "t")._1.snapshots.isEmpty)
      append(store, "t", "new.parquet")
      val (m, v) = store.load(ns, "t")
      assert(v == 2 && m.snapshots.size == 1)
      assert(m.currentSnapshot.get.files == List("new.parquet"))
      assert(blobs.list(metaDir(store, "t")).toSet.intersect(oldBodies).isEmpty,
        "a body of the dropped table survived the drop")
    }

    test(s"$name: body prune honours both the live set and the grace window") {
      val blobs = mk()
      val store = fresh(blobs)
      append(store, "t", "a.parquet")
      append(store, "t", "b.parquet")
      val live = store.load(ns, "t")._1.snapshots.flatMap(_.bodyRef).toSet
      assert(live.size == 2)
      val md = metaDir(store, "t")
      val orphan = "snap-999-deadbeef.body.json"
      assert(blobs.putIfAbsent(blobs.resolve(md, orphan),
        """{"files":[],"fileStats":{},"deleteFiles":[],"fileSeqs":{}}""".getBytes))
      def bodies = blobs.list(md).filter(_.endsWith(".body.json")).toSet

      assert(store.pruneSnapshotBodies(ns, "t", live, graceMs = 3600000L) == 0,
        "a body younger than the grace window must survive")
      assert(bodies == live + orphan)
      Thread.sleep(20)
      assert(store.pruneSnapshotBodies(ns, "t", live, graceMs = 0L) == 1)
      assert(bodies == live, "only the unreferenced body may go")
      assert(store.load(ns, "t")._1.snapshots.forall(_.files.nonEmpty))
    }

    test(s"$name: namespace and table lifecycle") {
      val store = fresh(mk())
      store.createNamespace(Seq("db", "child"), Map("k" -> "v"))
      store.createNamespace(Seq("other"), Map.empty)
      assert(store.listNamespaces(Nil) == Seq(Seq("db"), Seq("other")))
      assert(store.listNamespaces(ns) == Seq(Seq("db", "child")))
      assert(store.loadNamespace(Seq("db", "child")) == Map("k" -> "v"))
      store.setNamespaceProperties(Seq("db", "child"), Map("k2" -> "v2"))
      assert(store.loadNamespace(Seq("db", "child")) == Map("k2" -> "v2"))
      append(store, "t", "a.parquet")
      store.renameTable(ns, "t", Seq("other"), "t2")
      assert(store.listTables(ns).isEmpty && store.listTables(Seq("other")) == Seq("t2"))
      assert(store.load(Seq("other"), "t2")._1.currentSnapshot.get.files == List("a.parquet"))
      intercept[IllegalStateException](store.dropNamespace(Seq("other")))
      assert(store.dropTable(Seq("other"), "t2") && !store.dropTable(Seq("other"), "t2"))
      assert(store.dropNamespace(Seq("db", "child")) && store.dropNamespace(ns))
      assert(store.dropNamespace(Seq("other")) && !store.namespaceExists(Seq("other")))
      assert(store.listNamespaces(Nil).isEmpty)
    }
  }
}
