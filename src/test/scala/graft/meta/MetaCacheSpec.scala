package graft.meta

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.GraftCatalog
import graft.commit.MetadataUpdate
import graft.server.RestServer

/** The two metadata caches: [[SnapshotBodies]]' process-wide body cache
  * and the version cache of each [[BlobMetaStore]]. */
class MetaCacheSpec extends AnyFunSuite {
  private implicit val formats: Formats = DefaultFormats

  private def slim(bodies: Seq[String]): TableMetadata =
    TableMetadata.empty("u", "loc", SchemaDef(0, List(FieldDef(1, "id", "long", required = true))),
      PartitionSpecDef(0, Nil), SortOrderDef(0, Nil), Map.empty)
      .copy(snapshots = bodies.zipWithIndex.map { case (n, i) =>
        SnapshotDef(i.toLong, 0L, "append", Nil, Map.empty, bodyRef = Some(n))
      }.toList)

  /** The warehouse `wh` through a symlink: a store over it shares no
    * cache key with stores over `wh`, like a store in another process. */
  private def outsideView(wh: String): String =
    Files.createSymbolicLink(
      Files.createTempDirectory("graft-vcache-link").resolve("wh"), Paths.get(wh)).toString

  test("the body cache keeps a scope that is read while colder bodies stream through") {
    val body = MetaJson.body(SnapshotBodies.Body(List("f.parquet"), Map.empty, Nil, Map.empty))
    val run = java.util.UUID.randomUUID()
    val hot = s"mem://$run/hot/metadata"
    val hotDoc = slim((1 to 16).map(i => s"snap-$i-hot.body.json"))
    val hotReads, coldReads = new AtomicInteger
    def inflateHot(): Unit = {
      val m = SnapshotBodies.inflate(hot, hotDoc, _ => { hotReads.incrementAndGet(); body })
      assert(m.snapshots.forall(_.files == List("f.parquet")))
    }
    inflateHot()
    assert(hotReads.get == 16)
    (1 to 1024).foreach { i =>
      SnapshotBodies.inflate(s"mem://$run/cold-$i/metadata", slim(Seq(s"snap-$i-cold.body.json")),
        _ => { coldReads.incrementAndGet(); body })
      if (i % 64 == 0) inflateHot()
    }
    assert(coldReads.get == 1024)
    assert(hotReads.get == 16, "a body of the scope read every 64 inserts was evicted")
  }

  test("a cached version is served only while its document's bytes are unchanged") {
    val wh = Files.createTempDirectory("graft-vcache-wh").toString
    val catalog = new GraftCatalog
    catalog.initialize("a", new CaseInsensitiveStringMap(java.util.Map.of("warehouse", wh)))
    val a = catalog.metadataStore
    val b = new MetadataStore(outsideView(wh))
    val ns = Seq("vc")
    def create(store: MetaStore, uuid: String): Unit =
      store.createTable(ns, "t", TableMetadata.empty(uuid, store.dataDir(ns, "t"),
        SchemaDef(0, List(FieldDef(1, "id", "long", required = true))),
        PartitionSpecDef(0, Nil), SortOrderDef(0, Nil), Map.empty))
    def append(store: MetaStore, file: String): Unit =
      store.commitOps(ns, "t", Nil, Seq(MetadataUpdate.AppendFiles(List(file), 1L)))

    a.createNamespace(ns, Map.empty)
    create(a, "old-uuid")
    append(a, "old-1.parquet")
    append(a, "old-2.parquet")
    (1 to 3).foreach(v => assert(a.loadVersion(ns, "t", v).tableUuid == "old-uuid"))
    assert(a.load(ns, "t")._2 == 3)
    // a repeated load of an unchanged version is the cached instance
    assert(a.load(ns, "t")._1 eq a.load(ns, "t")._1)

    val server = new RestServer(catalog)
    val port = server.start()
    val client = HttpClient.newHttpClient()
    def get(query: String): JValue = {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/v1/namespaces/vc/tables/t$query")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      JsonMethods.parse(r.body()) \ "metadata"
    }
    try {
      assert((get("?version=1") \ "tableUuid").extract[String] == "old-uuid")

      b.dropTable(ns, "t")
      create(b, "new-uuid")
      append(b, "new-1.parquet")

      val (m, v) = a.load(ns, "t")
      assert(v == 2)
      assert(m.tableUuid == "new-uuid")
      assert(m.currentSnapshot.map(_.files).contains(List("new-1.parquet")))
      assert(a.loadVersion(ns, "t", 1).tableUuid == "new-uuid")
      val v1 = get("?version=1")
      assert((v1 \ "tableUuid").extract[String] == "new-uuid")
      assert((v1 \ "snapshots").extract[List[JValue]].isEmpty)
      val current = get("")
      assert((current \ "tableUuid").extract[String] == "new-uuid")
      assert(((current \ "snapshots")(0) \ "files").extract[List[String]] ==
        List("new-1.parquet"))
    } finally server.stop()
  }

  test("a committed version loads inflated and is reused; drop and rename evict") {
    val store = new ConditionalPutMetadata(new InMemoryBlobStore)
    val ns = Seq("n")
    assert(store.createTable(ns, "t", slim(Nil)))
    val (m1, v1) = store.load(ns, "t")
    assert(store.commit(ns, "t", v1, MetadataUpdate.AppendFiles(List("a.parquet"), 1L)(m1)))
    val (m2, v2) = store.load(ns, "t")
    assert(v2 == 2)
    assert(store.load(ns, "t")._1 eq m2)
    assert(m2.currentSnapshot.map(_.files).contains(List("a.parquet")))

    // an outside writer recreates the very bytes the dropped or moved
    // table had: only an evicted entry makes the next load a fresh instance
    val wh = Files.createTempDirectory("graft-vcache-evict").toString
    val fs = new MetadataStore(wh)
    val other = new MetadataStore(outsideView(wh))
    fs.createNamespace(ns, Map.empty)
    fs.createTable(ns, "t", slim(Nil))
    val t = fs.load(ns, "t")._1
    fs.renameTable(ns, "t", ns, "u")
    other.createTable(ns, "t", t)
    assert(!(fs.load(ns, "t")._1 eq t))
    val u = fs.load(ns, "u")._1
    assert(fs.load(ns, "u")._1 eq u)
    assert(fs.dropTable(ns, "u"))
    other.createTable(ns, "u", u)
    assert(!(fs.load(ns, "u")._1 eq u))
  }
}
