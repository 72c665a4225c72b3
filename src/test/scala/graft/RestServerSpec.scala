package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog.GraftCatalog
import graft.meta.TableMetadata
import graft.server.RestServer

/** End-to-end round trips over the real wire protocol — the analogue of
  * the reference's httptest suite (`/root/reference/test/server_test.go`):
  * serialize → HTTP → handler → catalog → response → deserialize. */
class RestServerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private implicit val formats: Formats = DefaultFormats

  private val wh = Files.createTempDirectory("graft-rest-wh").toString
  private val catalog = new GraftCatalog
  private var server: RestServer = _
  private var base: String = _
  private val client = HttpClient.newHttpClient()
  private val U = "\u001f"

  override def beforeAll(): Unit = {
    catalog.initialize("graft", new CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh, "defaults.write-format", "parquet",
        "overrides.owner", "graft")))
    server = new RestServer(catalog)
    val port = server.start()
    base = s"http://127.0.0.1:$port"
  }

  override def afterAll(): Unit = server.stop()

  private def req(method: String, path: String, body: String = null): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
    val withBody = method match {
      case "GET" => b.GET()
      case "HEAD" => b.method("HEAD", HttpRequest.BodyPublishers.noBody())
      case "DELETE" => b.DELETE()
      case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(
        Option(body).getOrElse("{}")))
    }
    client.send(withBody.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def parse(r: HttpResponse[String]): JValue = JsonMethods.parse(r.body)

  // -- TestServerConfig --------------------------------------------------
  test("GET /v1/config returns defaults and overrides") {
    val r = req("GET", "/v1/config?warehouse=ignored")
    assert(r.statusCode() == 200)
    val j = parse(r)
    assert((j \ "defaults" \ "write-format").extract[String] == "parquet")
    assert((j \ "overrides" \ "owner").extract[String] == "graft")
  }

  test("GET /health") {
    val r = req("GET", "/health")
    assert(r.statusCode() == 200 && (parse(r) \ "status").extract[String] == "ok")
  }

  // -- TestNamespaceOperations -------------------------------------------
  test("namespace CRUD round trip") {
    val create = req("POST", "/v1/namespaces",
      """{"namespace":["test_namespace"],"properties":{"description":"Test namespace","owner":"test_user"}}""")
    assert(create.statusCode() == 200)
    // echoes the request back (namespaces.go:73)
    assert((parse(create) \ "properties" \ "owner").extract[String] == "test_user")

    val list = req("GET", "/v1/namespaces")
    assert((parse(list) \ "namespaces").extract[List[List[String]]]
      .contains(List("test_namespace")))

    assert(req("HEAD", "/v1/namespaces/test_namespace").statusCode() == 204)
    assert(req("HEAD", "/v1/namespaces/nope").statusCode() == 404)

    val load = req("GET", "/v1/namespaces/test_namespace")
    assert((parse(load) \ "properties" \ "description").extract[String] == "Test namespace")

    // update with removals + summary (server_test.go:114-135)
    val upd = req("POST", "/v1/namespaces/test_namespace/properties",
      """{"removals":["owner","missing_key"],"updates":{"description":"Updated","new_prop":"v"}}""")
    assert(upd.statusCode() == 200)
    val uj = parse(upd)
    assert((uj \ "updated").extract[List[String]].toSet == Set("description", "new_prop"))
    assert((uj \ "removed").extract[List[String]] == List("owner"))
    assert((uj \ "missing").extract[List[String]] == List("missing_key"))

    // 422: key in both removals and updates (errors.go:45-49)
    val bad = req("POST", "/v1/namespaces/test_namespace/properties",
      """{"removals":["description"],"updates":{"description":"x"}}""")
    assert(bad.statusCode() == 422)
    assert((parse(bad) \ "error" \ "type").extract[String] == "UnprocessableEntityException")
  }

  test("multi-level namespace with unit separator encoding") {
    assert(req("POST", "/v1/namespaces",
      """{"namespace":["lvl1","lvl2"]}""").statusCode() == 200)
    val enc = java.net.URLEncoder.encode(s"lvl1${U}lvl2", "UTF-8")
    assert(req("HEAD", s"/v1/namespaces/$enc").statusCode() == 204)
    val children = req("GET", s"/v1/namespaces?parent=$enc")
    assert((parse(children) \ "namespaces").extract[List[List[String]]].isEmpty)
  }

  // -- TestTableOperations -----------------------------------------------
  private val tableSchema =
    """{"schemaId":0,"fields":[
      |{"id":1,"name":"id","type":"long","required":true},
      |{"id":2,"name":"name","type":"string","required":false},
      |{"id":3,"name":"created_at","type":"timestamp","required":false}]}""".stripMargin

  test("table lifecycle over the wire") {
    req("POST", "/v1/namespaces", """{"namespace":["tops"]}""")
    val create = req("POST", "/v1/namespaces/tops/tables",
      s"""{"name":"test_table","schema":$tableSchema,"properties":{"k":"v"}}""")
    assert(create.statusCode() == 200)
    val cj = parse(create)
    assert((cj \ "metadata-location").extract[String].endsWith("v1.metadata.json"))
    // schema echo field-by-field (server_test.go:174-176)
    val fields = (cj \ "metadata" \ "schemas")(0) \ "fields"
    assert((fields(0) \ "name").extract[String] == "id")
    assert((fields(0) \ "required").extract[Boolean])
    assert((cj \ "config" \ "owner").extract[String] == "graft")

    assert(req("HEAD", "/v1/namespaces/tops/tables/test_table").statusCode() == 204)
    assert(req("HEAD", "/v1/namespaces/tops/tables/nope").statusCode() == 404)

    val list = req("GET", "/v1/namespaces/tops/tables")
    val idents = (parse(list) \ "identifiers").extract[List[JValue]]
    assert(idents.exists(i => (i \ "name").extract[String] == "test_table"))

    // stage-create → 501 (tables.go:91-96)
    val staged = req("POST", "/v1/namespaces/tops/tables",
      s"""{"name":"staged","schema":$tableSchema,"stage-create":true}""")
    assert(staged.statusCode() == 501)

    // duplicate create → 409 AlreadyExists
    val dup = req("POST", "/v1/namespaces/tops/tables",
      s"""{"name":"test_table","schema":$tableSchema}""")
    assert(dup.statusCode() == 409)
    assert((parse(dup) \ "error" \ "type").extract[String] == "AlreadyExistsException")
  }

  test("schema evolution commit with requirement (server_test.go:210-225)") {
    req("POST", "/v1/namespaces", """{"namespace":["evo_rest"]}""")
    req("POST", "/v1/namespaces/evo_rest/tables",
      s"""{"name":"t","schema":$tableSchema}""")

    val commit = req("POST", "/v1/namespaces/evo_rest/tables/t",
      """{"identifier":{"namespace":["ignored"],"name":"ignored"},
        |"requirements":[{"type":"assert-current-schema-id","current-schema-id":0}],
        |"updates":[
        |  {"action":"add-schema","schema":{"schemaId":1,"fields":[
        |    {"id":1,"name":"id","type":"long","required":true},
        |    {"id":2,"name":"name","type":"string","required":false},
        |    {"id":3,"name":"created_at","type":"timestamp","required":false},
        |    {"id":4,"name":"updated_at","type":"timestamp","required":true}]}},
        |  {"action":"set-current-schema","schema-id":-1}]}""".stripMargin)
    assert(commit.statusCode() == 200)
    val mj = parse(commit) \ "metadata"
    assert((mj \ "currentSchemaId").extract[Int] == 1)
    assert((mj \ "lastColumnId").extract[Int] == 4)
    assert((parse(commit) \ "metadata-location").extract[String].endsWith("v2.metadata.json"))

    // stale requirement → 409 commit failed
    val stale = req("POST", "/v1/namespaces/evo_rest/tables/t",
      """{"requirements":[{"type":"assert-current-schema-id","current-schema-id":0}],
        |"updates":[{"action":"set-properties","updates":{"a":"b"}}]}""".stripMargin)
    assert(stale.statusCode() == 409)
  }

  test("rename returns bare 200 with no body (tables.go:376,401)") {
    req("POST", "/v1/namespaces", """{"namespace":["rn_rest"]}""")
    req("POST", "/v1/namespaces/rn_rest/tables", s"""{"name":"a","schema":$tableSchema}""")
    val rn = req("POST", "/v1/tables/rename",
      """{"source":{"namespace":["rn_rest"],"name":"a"},
        |"destination":{"namespace":["rn_rest"],"name":"b"}}""".stripMargin)
    assert(rn.statusCode() == 200)
    assert(rn.body().isEmpty)
    assert(req("HEAD", "/v1/namespaces/rn_rest/tables/b").statusCode() == 204)
    assert(req("HEAD", "/v1/namespaces/rn_rest/tables/a").statusCode() == 404)
  }

  test("drop: purge → 400 with code-501 body; metadata-only drop → 204") {
    req("POST", "/v1/namespaces", """{"namespace":["drop_rest"]}""")
    req("POST", "/v1/namespaces/drop_rest/tables", s"""{"name":"t","schema":$tableSchema}""")
    val purge = req("DELETE", "/v1/namespaces/drop_rest/tables/t?purgeRequested=true")
    assert(purge.statusCode() == 400) // status/body mismatch quirk
    assert((parse(purge) \ "error" \ "type").extract[String] == "NotImplementedException")
    assert(req("DELETE", "/v1/namespaces/drop_rest/tables/t").statusCode() == 204)
    assert(req("DELETE", "/v1/namespaces/drop_rest/tables/t").statusCode() == 404)
  }

  test("non-empty namespace drop → 409 NamespaceNotEmptyException") {
    req("POST", "/v1/namespaces", """{"namespace":["busy_rest"]}""")
    req("POST", "/v1/namespaces/busy_rest/tables", s"""{"name":"t","schema":$tableSchema}""")
    val r = req("DELETE", "/v1/namespaces/busy_rest")
    assert(r.statusCode() == 409)
    assert((parse(r) \ "error" \ "type").extract[String] == "NamespaceNotEmptyException")
    req("DELETE", "/v1/namespaces/busy_rest/tables/t")
    assert(req("DELETE", "/v1/namespaces/busy_rest").statusCode() == 204)
  }

  test("concurrent property commits over the wire: CAS keeps every update") {
    req("POST", "/v1/namespaces", """{"namespace":["cc_rest"]}""")
    req("POST", "/v1/namespaces/cc_rest/tables", s"""{"name":"t","schema":$tableSchema}""")
    val threads = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val futures = (0 until threads).map { tid =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = req("POST", "/v1/namespaces/cc_rest/tables/t",
          s"""{"updates":[{"action":"set-properties","updates":{"k$tid":"v"}}]}""")
          .statusCode()
      })
    }
    assert(futures.forall(_.get() == 200))
    pool.shutdown()
    val load = parse(req("GET", "/v1/namespaces/cc_rest/tables/t"))
    val props = (load \ "metadata" \ "properties").extract[Map[String, String]]
    assert((0 until threads).forall(t => props.contains(s"k$t")))
  }

  test("racing creates over the wire: one 200 per name, the rest 409, implicit parents shared") {
    // all n requests leave together; several rounds, so a check-then-write
    // window in the create path shows up in at least one of them
    def race(n: Int)(send: Int => HttpResponse[String]): Seq[HttpResponse[String]] = {
      val gate = new java.util.concurrent.CyclicBarrier(n)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      try (0 until n).map(i => pool.submit(new java.util.concurrent.Callable[HttpResponse[String]] {
        def call(): HttpResponse[String] = { gate.await(); send(i) }
      })).map(_.get())
      finally pool.shutdown()
    }
    def winner(rs: Seq[HttpResponse[String]]): Int = {
      val codes = rs.map(_.statusCode())
      assert(codes.count(_ == 200) == 1 && codes.count(_ == 409) == rs.size - 1,
        s"codes $codes: ${rs.filter(_.statusCode() >= 500).map(_.body).mkString}")
      assert(rs.filter(_.statusCode() == 409).forall(r =>
        (parse(r) \ "error" \ "type").extract[String] == "AlreadyExistsException"))
      codes.indexOf(200)
    }
    (0 until 10).foreach { round =>
      val ns = s"race_$round"
      val w = winner(race(8)(i => req("POST", "/v1/namespaces",
        s"""{"namespace":["$ns"],"properties":{"who":"$i"}}""")))
      assert((parse(req("GET", s"/v1/namespaces/$ns")) \ "properties")
        .extract[Map[String, String]] == Map("who" -> w.toString))

      val t = winner(race(8)(i => req("POST", s"/v1/namespaces/$ns/tables",
        s"""{"name":"t","schema":$tableSchema,"properties":{"who":"$i"}}""")))
      assert((parse(req("GET", s"/v1/namespaces/$ns/tables/t")) \ "metadata" \
        "properties" \ "who").extract[String] == t.toString)

      // distinct leaves under one implicit parent: every create succeeds
      val kids = race(8)(i => req("POST", "/v1/namespaces",
        s"""{"namespace":["${ns}_p","c$i"]}"""))
      assert(kids.forall(_.statusCode() == 200), kids.map(_.body).mkString)
      assert((parse(req("GET", s"/v1/namespaces?parent=${ns}_p")) \ "namespaces")
        .extract[List[List[String]]].size == 8)
    }
  }

  test("error taxonomy over the wire (server_test.go:262-315)") {
    assert(req("GET", "/v1/namespaces/non_existent").statusCode() == 404)
    val r = req("GET", "/v1/namespaces/non_existent")
    assert((parse(r) \ "error" \ "type").extract[String] == "NoSuchNamespaceException")
    val t = req("GET", "/v1/namespaces/test_namespace/tables/non_existent")
    assert(t.statusCode() == 404)
    assert((parse(t) \ "error" \ "type").extract[String] == "NoSuchTableException")
  }

  test("middleware: requestID header, CORS, and structured access log (middleware.go:11-36)") {
    val r = req("GET", "/v1/config")
    assert(r.statusCode() == 200)
    val rid = r.headers().firstValue("X-Request-ID")
    assert(rid.isPresent && rid.get.nonEmpty, "no X-Request-ID header")
    assert(r.headers().firstValue("Access-Control-Allow-Origin").orElse("") == "*")
    // the access log records requestID/method/path/clientIP/status/latency/size
    val line = server.recentLogs.reverse.find(_.contains(s"requestId=${rid.get}"))
    assert(line.isDefined, s"no log line for requestId=${rid.get}")
    assert(line.get.contains("method=GET") && line.get.contains("path=/v1/config")
      && line.get.contains("status=200") && line.get.contains("client=127.0.0.1")
      && line.get.contains("latency=") && line.get.contains("size="),
      s"incomplete log line: ${line.get}")
  }

  test("config-file bootstrap: default-catalog selection and defaults/overrides (main.go:82-100)") {
    import graft.server.ServerMain
    val dir = Files.createTempDirectory("graft-cfg")
    val whCfg = Files.createTempDirectory("graft-cfg-wh").toString
    val cfgPath = dir.resolve(".graft.json")
    Files.write(cfgPath,
      s"""{ "default-catalog": "prod",
         |  "catalog": { "prod": { "warehouse": "$whCfg" },
         |               "other": { "warehouse": "/nope" } },
         |  "server": { "defaults": {"write-format": "parquet"},
         |              "overrides": {"owner": "cfg"} },
         |  "port": 0 }""".stripMargin.getBytes)
    // path precedence: explicit beats GRAFT_HOME beats home
    assert(ServerMain.resolvePath(Some("/x/y.json")) == "/x/y.json")
    assert(ServerMain.resolvePath(None).endsWith(".graft.json"))
    val cfg = ServerMain.load(cfgPath.toString)
    assert(cfg.defaultCatalog == "prod" && cfg.catalogs.contains("other"))
    val (srv, port) = ServerMain.startFromConfig(cfg)
    try {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/v1/config")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      val j = parse(r)
      assert((j \ "defaults" \ "write-format").extract[String] == "parquet")
      assert((j \ "overrides" \ "owner").extract[String] == "cfg")
    } finally srv.stop()
    // unknown default-catalog fails like the reference's panic
    intercept[IllegalArgumentException] {
      ServerMain.startFromConfig(cfg.copy(defaultCatalog = "missing"))
    }
  }

  test("wire commit of append-files: delta applies, stale snapshot assert is 409") {
    req("POST", "/v1/namespaces", """{"namespace": ["wirecommit"]}""")
    req("POST", s"/v1/namespaces/wirecommit/tables",
      """{"name": "t", "schema": {"fields": [
        |{"id": 1, "name": "id", "type": "long", "required": true}]}}""".stripMargin)
    // two wire appends — the delta semantics must keep both file sets
    val c1 = req("POST", "/v1/namespaces/wirecommit/tables/t",
      """{"requirements": [], "updates": [
        |{"action": "append-files", "files": ["a.parquet"], "timestamp-ms": 1}]}""".stripMargin)
    assert(c1.statusCode() == 200)
    val c2 = req("POST", "/v1/namespaces/wirecommit/tables/t",
      """{"requirements": [{"type": "assert-current-snapshot-id", "snapshot-id": 1}],
        |"updates": [
        |{"action": "append-files", "files": ["b.parquet"], "timestamp-ms": 2}]}""".stripMargin)
    assert(c2.statusCode() == 200)
    val files = ((parse(c2) \ "metadata" \ "snapshots")(1) \ "files").extract[List[String]]
    assert(files == List("a.parquet", "b.parquet"))
    // stale snapshot assertion → commit refused with 409
    val stale = req("POST", "/v1/namespaces/wirecommit/tables/t",
      """{"requirements": [{"type": "assert-current-snapshot-id", "snapshot-id": 1}],
        |"updates": [
        |{"action": "replace-files", "files": ["c.parquet"], "timestamp-ms": 3}]}""".stripMargin)
    assert(stale.statusCode() == 409)
    assert((parse(stale) \ "error" \ "type").extract[String] == "CommitFailedException")
  }

  test("malformed request bodies answer 400, not 500 (ShouldBindJSON parity)") {
    val broken = req("POST", "/v1/namespaces", """{"namespace": "not-a-list"}""")
    assert(broken.statusCode() == 400, s"got ${broken.statusCode()}: ${broken.body()}")
    assert((parse(broken) \ "error" \ "type").extract[String] == "BadRequestException")
    val invalid = req("POST", "/v1/namespaces", "{not json at all")
    assert(invalid.statusCode() == 400)
  }

  test("middleware: OPTIONS preflight answers 204 with CORS methods") {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(base + "/v1/namespaces"))
        .method("OPTIONS", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 204)
    assert(r.headers().firstValue("Access-Control-Allow-Methods").orElse("")
      .contains("DELETE"))
  }

  test("stop() ends the stopped server's handler threads") {
    val s = new RestServer(catalog)
    val port = s.start()
    def handlers = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith(s"graft-rest-$port-") && t.isAlive)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    (1 to 8).map(_ => pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
    })).foreach(f => assert(f.get() == 200))
    pool.shutdown()
    assert(handlers.nonEmpty, "requests were served by no named handler thread")
    s.stop()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (handlers.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(handlers.isEmpty, s"handler threads outlived stop(): ${handlers.map(_.getName)}")
  }

  test("metadata responses: exact length, not chunked, the old pipeline's bytes") {
    val ns = "bytes_rest"
    val path = s"/v1/namespaces/$ns/tables"
    def send(p: String, body: String = null): HttpResponse[Array[Byte]] = {
      val b = HttpRequest.newBuilder(URI.create(base + p))
      client.send((if (body == null) b.GET() else b.POST(HttpRequest.BodyPublishers.ofString(body)))
        .build(), HttpResponse.BodyHandlers.ofByteArray())
    }
    // what the server sent before the single-pass writer: the document
    // pretty-printed by json4s reflection, parsed back, printed compact
    def oldPipeline(withConfig: Boolean): Array[Byte] = {
      val (m, v) = catalog.metadataStore.load(Seq(ns), "t")
      val config = if (!withConfig) Nil else List("config" -> JObject(
        catalog.config(m.properties).toList.map { case (k, x) => k -> (JString(x): JValue) }))
      JsonMethods.compact(JsonMethods.render(JObject(List(
        "metadata-location" -> JString(catalog.metadataStore.metadataLocation(Seq(ns), "t", v)),
        "metadata" -> JsonMethods.parse(Serialization.writePretty(m)(TableMetadata.formats)))
        ++ config))).getBytes(UTF_8)
    }
    def check(r: HttpResponse[Array[Byte]], withConfig: Boolean): Unit = {
      assert(r.statusCode() == 200, new String(r.body(), UTF_8))
      val h = r.headers()
      assert(h.firstValue("Content-Length").orElse("") == r.body().length.toString)
      assert(!h.firstValue("Transfer-Encoding").isPresent)
      val expected = oldPipeline(withConfig)
      val at = java.util.Arrays.mismatch(r.body(), expected)
      def near(b: Array[Byte]) = new String(b.slice(at - 60, at + 60), UTF_8)
      assert(at == -1, s"bytes differ at $at:\n got: ${near(r.body())}\nwant: ${near(expected)}")
      val rid = h.firstValue("X-Request-ID").get
      val line = server.recentLogs.find(_.contains(s"requestId=$rid"))
      assert(line.exists(_.endsWith(s" size=${r.body().length}")), s"log line: $line")
    }

    req("POST", "/v1/namespaces", s"""{"namespace":["$ns"]}""")
    check(send(path, s"""{"name":"t","schema":$tableSchema,
      |"properties":{"quote\\"d":"back\\\\slash \\u00e9\\u4e2d \\ud83d\\ude00 \\u0001"}}"""
      .stripMargin), withConfig = true)
    val stats = """"file-stats":{"a.parquet":[
      |{"name":"id","min":"1","max":"9","nulls":0,"fieldId":1,"rows":9},
      |{"name":"name","min":"a","max":"z","nulls":2}]}""".stripMargin
    // enough files that every snapshot's list spans several 256 KB blocks
    val many = (1 to 12000).map(i => s""""many/part-$i.parquet"""").mkString(",")
    check(send(s"$path/t", s"""{"updates":[{"action":"append-files",
      |"files":["a.parquet",$many],"timestamp-ms":1,$stats}]}""".stripMargin),
      withConfig = false)
    check(send(s"$path/t", """{"updates":[{"action":"append-files",
      |"files":["b.parquet"],"timestamp-ms":2}]}""".stripMargin), withConfig = false)
    check(send(s"$path/t", """{"updates":[{"action":"set-ref",
      |"ref-name":"audit","snapshot-id":1,"ref-type":"tag"}]}""".stripMargin),
      withConfig = false)
    check(send(s"$path/t", """{"updates":[{"action":"row-delta",
      |"added-files":["c.parquet"],"timestamp-ms":3,"added-delete-files":[
      |{"path":"d.parquet","seq":0,"keyFieldIds":[1],"rows":1,"bytes":10}]}]}"""
      .stripMargin), withConfig = false)
    val load = send(s"$path/t")
    check(load, withConfig = true)
    val m = JsonMethods.parse(new String(load.body(), UTF_8)) \ "metadata"
    assert(((m \ "snapshots")(2) \ "deleteFiles").extract[List[JValue]].size == 1)
    assert((m \ "refs" \ "audit" \ "refType").extract[String] == "tag")
  }

  test("a failed HEAD answers its status with no body and logs size=0") {
    for (p <- Seq("/v1/namespaces/nope_head", "/v1/namespaces/nope_head/tables/t", "/v1/nope")) {
      val r = req("HEAD", p)
      assert(r.statusCode() == 404, p)
      assert(r.body().isEmpty, p)
      // a bodiless response is complete before the handler logs it
      val rid = r.headers().firstValue("X-Request-ID").get
      def line = server.recentLogs.find(_.contains(s"requestId=$rid"))
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (line.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
      assert(line.exists(_.endsWith(" size=0")), s"log line: $line")
    }
  }

  test("repeated loadTable bodies equal a fresh render and follow commits") {
    val ns = "reuse_rest"
    val path = s"/v1/namespaces/$ns/tables/t"
    req("POST", "/v1/namespaces", s"""{"namespace":["$ns"]}""")
    assert(req("POST", s"/v1/namespaces/$ns/tables",
      s"""{"name":"t","schema":$tableSchema}""").statusCode() == 200)
    assert(req("POST", path, """{"updates":[{"action":"append-files",
      |"files":["a.parquet","b.parquet"],"timestamp-ms":1}]}""".stripMargin).statusCode() == 200)
    def fresh(): String = {
      val (m, v) = catalog.metadataStore.load(Seq(ns), "t")
      val out = new java.io.StringWriter
      val g = graft.meta.MetaJson.factory.createGenerator(out)
      g.writeStartObject()
      g.writeStringField("metadata-location",
        catalog.metadataStore.metadataLocation(Seq(ns), "t", v))
      g.writeFieldName("metadata")
      graft.meta.MetaJson.writeTable(g, m)
      g.writeFieldName("config")
      graft.meta.MetaJson.strings(g, catalog.config(m.properties))
      g.writeEndObject()
      g.close()
      out.toString
    }
    def load(): HttpResponse[String] = {
      val r = req("GET", path)
      assert(r.statusCode() == 200, r.body())
      assert(r.body() == fresh())
      r
    }
    load()
    load()
    assert(req("POST", path, """{"updates":[{"action":"set-properties",
      |"updates":{"reuse.key":"after"}}]}""".stripMargin).statusCode() == 200)
    val after = parse(load()) \ "metadata" \ "properties" \ "reuse.key"
    assert(after.extract[String] == "after")
  }
}
