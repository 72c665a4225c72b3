package graft.meta

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

import graft.HdfsLikeFileSystem

/** Namespace and table names are one directory each, whatever they
  * contain: `.`, `..` and names with `/` neither leave the warehouse nor
  * alias another name. On the POSIX and Hadoop adapters the warehouse
  * sits two levels inside a temporary directory this spec owns, beside a
  * sibling directory, so even a store that lets `..` through can only
  * write and delete inside that temporary directory. */
class NameEscapingSpec extends AnyFunSuite {

  private val hadoopConf = {
    val c = new Configuration()
    c.set("fs.hdfslike.impl", classOf[HdfsLikeFileSystem].getName)
    c
  }

  /** (adapter, local warehouse directory if it has one). */
  private val adapters: Seq[(String, () => (CasBlobStore, Option[Path]))] = Seq(
    "posix" -> { () =>
      val wh = nested("graft-names-posix")
      (new PosixBlobStore(wh.toString), Some(wh))
    },
    "hadoop" -> { () =>
      val wh = nested("graft-names-hdfs")
      (new HadoopBlobStore("hdfslike://" + wh, hadoopConf), Some(wh))
    },
    "in-memory" -> (() => (new InMemoryBlobStore, None)))

  /** `<tmp>/outer/wh`, with `<tmp>/outer/sibling/keep.txt` beside it. */
  private def nested(prefix: String): Path = {
    val outer = Files.createTempDirectory(prefix).resolve("outer")
    Files.createDirectories(outer.resolve("sibling"))
    Files.write(outer.resolve("sibling").resolve("keep.txt"), "keep".getBytes)
    Files.createDirectories(outer.resolve("wh"))
  }

  private val names = Seq("..", ".", "a/../../x")
  private val schema = SchemaDef(0, List(FieldDef(1, "id", "long", required = false)))
  private def create(store: MetaStore, ns: Seq[String], t: String): Unit =
    store.createTable(ns, t, TableMetadata.empty(java.util.UUID.randomUUID().toString,
      store.dataDir(ns, t), schema, PartitionSpecDef(0, Nil), SortOrderDef(0, Nil), Map.empty))

  /** Every key under `dir`, walked with the store's own listing (a
    * Hadoop listing of a file is the file itself). */
  private def keys(blobs: CasBlobStore, dir: String, depth: Int = 0): Seq[String] =
    if (depth > 8) Nil
    else blobs.list(dir).flatMap { n =>
      val k = blobs.resolve(dir, n)
      val children = blobs.list(k)
      if (children.isEmpty || children == Seq(n)) Seq(k) else keys(blobs, k, depth + 1)
    }

  for ((adapter, mk) <- adapters) {
    test(s"$adapter: '.', '..' and names with '/' stay one directory under the warehouse") {
      val (blobs, local) = mk()
      val store = new BlobMetaStore(blobs)
      store.ensureRoot()
      store.createNamespace(Seq("db"), Map.empty)
      for (n <- names) {
        store.createNamespace(Seq(n), Map("name" -> n))
        create(store, Seq(n), n)
        create(store, Seq("db"), n)
      }
      assert(store.listNamespaces(Nil) == (names :+ "db").sorted.map(Seq(_)))
      assert(store.listTables(Seq("db")) == names.sorted)
      for (n <- names) {
        assert(store.loadNamespace(Seq(n)) == Map("name" -> n))
        assert(store.listTables(Seq(n)) == Seq(n))
        assert(store.load(Seq(n), n)._2 == 1 && store.load(Seq("db"), n)._2 == 1)
      }
      val segments = keys(blobs, blobs.root).map(_.stripPrefix(blobs.root)).flatMap(_.split('/'))
      assert(!segments.exists(s => s == "." || s == ".."), segments)
      local.foreach { wh =>
        val outer = wh.getParent
        val all = Files.walk(outer.getParent).iterator.asScala.toList
        assert(all.forall(p => p.startsWith(wh) || p.startsWith(outer.resolve("sibling")) ||
          wh.startsWith(p)), all.filterNot(_.startsWith(wh)))
        for (n <- names)
          assert(java.nio.file.Paths.get(store.dataDir(Seq(n), n).stripPrefix("hdfslike:"))
            .normalize.startsWith(wh), store.dataDir(Seq(n), n))
      }

      assert(store.dropTable(Seq(".."), "..") && !store.tableExists(Seq(".."), ".."))
      assert(store.dropNamespace(Seq("..")) && !store.namespaceExists(Seq("..")))
      assert(store.listNamespaces(Nil) == Seq(Seq("."), Seq("a/../../x"), Seq("db")))
      assert(store.listTables(Seq("db")) == names.sorted)
      local.foreach { wh =>
        val sibling = wh.getParent.resolve("sibling").resolve("keep.txt")
        assert(Files.exists(sibling) && Files.isDirectory(wh))
      }
    }

    test(s"$adapter: a name with '/' is listed, and aliases no other name") {
      val (blobs, _) = mk()
      val store = new BlobMetaStore(blobs)
      store.ensureRoot()
      store.createNamespace(Seq("slash/ns"), Map.empty)
      create(store, Seq("slash/ns"), "t/1")
      assert(store.listNamespaces(Nil) == Seq(Seq("slash/ns")))
      assert(store.listTables(Seq("slash/ns")) == Seq("t/1"))
      assert(store.tableExists(Seq("slash/ns"), "t/1"))
      assert(!store.namespaceExists(Seq("slash")) && !store.namespaceExists(Seq("slash", "ns")))
      assert(!store.tableExists(Seq("slash", "ns", "t"), "1"))
      // escapes stay distinct from the names they spell
      for (n <- Seq("%2F", "%", "%2E%2E", "%25")) {
        store.createNamespace(Seq(n), Map("name" -> n))
        assert(store.loadNamespace(Seq(n)) == Map("name" -> n))
      }
      assert(store.listNamespaces(Nil).map(_.head).sorted ==
        Seq("%", "%25", "%2E%2E", "%2F", "slash/ns"))
      assert(store.dropTable(Seq("slash/ns"), "t/1") && store.listTables(Seq("slash/ns")).isEmpty)
    }
  }
}
