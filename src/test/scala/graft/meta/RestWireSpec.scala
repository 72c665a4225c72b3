package graft.meta

import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.Identifier
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.commit._
import graft.commit.MetadataUpdate._
import graft.commit.Requirement._

/** The REST codec both ends share: every requirement and update kind
  * survives encode → JSON text → decode, the bodies clients send today
  * (perfbench's literal commit bodies among them) decode as before,
  * defaulted members may be left out, and every error type the server
  * answers with reaches the client as the exception it did before. */
class RestWireSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  /** Through the text a request carries, not just the AST. */
  private def wire(j: JValue): JValue =
    JsonMethods.parse(JsonMethods.compact(JsonMethods.render(j)))

  private val text: Gen[String] = Gen.frequency(
    4 -> Gen.alphaNumStr.map(_.take(12)),
    3 -> Gen.listOf(Gen.oneOf(Seq('"', '\\', '/', '%', '+', ' ', '.', '\n', '\u0000',
      '\u001f', 'é', '中', 'a'))).map(_.take(12).mkString))
  private def small[A](g: Gen[A]): Gen[List[A]] = Gen.choose(0, 4).flatMap(Gen.listOfN(_, g))
  private def mapOf[V](v: Gen[V]): Gen[Map[String, V]] = small(Gen.zip(text, v)).map(_.toMap)
  private val long = Arbitrary.arbitrary[Long]
  private val int = Arbitrary.arbitrary[Int]
  private val strings = mapOf(text)

  private val schema = Gen.zip(int, small(Gen.zip(int, text, text, Arbitrary.arbitrary[Boolean])
    .map(FieldDef.tupled))).map(SchemaDef.tupled)
  private val spec = Gen.zip(int, small(Gen.zip(int, text, text)
    .map(PartitionFieldDef.tupled))).map(PartitionSpecDef.tupled)
  private val stats = mapOf(small(for {
    n <- text; lo <- text; hi <- text; nulls <- long
    fid <- Gen.option(int); rows <- Gen.option(long)
  } yield ColStatDef(n, lo, hi, nulls, fid, rows)))
  private val deletes = small(Gen.zip(text, long, small(int), long, long).map(DeleteFileDef.tupled))
  private val snapshot = for {
    id <- long; ts <- long; op <- text; files <- small(text); summary <- strings
    st <- stats; dels <- deletes; seqs <- mapOf(long)
    parent <- Gen.option(long); ref <- Gen.option(text)
  } yield SnapshotDef(id, ts, op, files, summary, st, dels, seqs, parent, ref)

  private val requirements: Seq[Gen[Requirement]] = Seq(
    text.map(AssertTableUuid),
    int.map(AssertCurrentSchemaId),
    int.map(AssertDefaultSpecId),
    Gen.option(long).map(AssertCurrentSnapshotId),
    Gen.zip(text, long).map(AssertMaxSummaryBelow.tupled))

  private val files = small(text)
  private val updates: Seq[Gen[MetadataUpdate]] = Seq(
    schema.map(AddSchema),
    int.map(SetCurrentSchema),
    strings.map(SetProperties),
    files.map(RemoveProperties),
    text.map(SetLocation),
    snapshot.map(AddSnapshot),
    Gen.zip(files, long, stats, strings).map(AppendFiles.tupled),
    Gen.zip(files, small(strings), long, stats, strings).map(OverwritePartitions.tupled),
    Gen.zip(files, files, long, stats, strings).map(RewriteFiles.tupled),
    Gen.zip(files, deletes, long, stats, strings).map(RowDelta.tupled),
    Gen.zip(files, deletes, long, strings).map(RewriteDeletes.tupled),
    Gen.zip(files, long, stats, strings).map(ReplaceFiles.tupled),
    spec.map(AddPartitionSpec),
    long.map(SetCurrentSnapshot),
    small(long).map(RemoveSnapshots),
    Gen.zip(text, long, text).map(SetRef.tupled),
    text.map(RemoveRef),
    Gen.zip(text, files, long, stats, strings).map(AppendFilesToRef.tupled),
    text.map(FastForward))

  private def oneOf[A](gens: Seq[Gen[A]]): Gen[A] = Gen.choose(0, gens.size - 1).flatMap(gens)

  test("a generator for every requirement and update kind") {
    assert(requirements.size == 5 && updates.size == 19)
    val kinds = (1 to 2000).flatMap(_ => oneOf(updates).sample).map(_.getClass).toSet
    assert(kinds.size == 19, kinds)
  }

  test("every requirement and update kind round-trips through its JSON text") {
    check(Prop.forAll(oneOf(requirements))(q =>
      RestWire.requirement(wire(RestWire.encode(q))) == q))
    check(Prop.forAll(oneOf(updates))(u => RestWire.update(wire(RestWire.encode(u))) == u))
    check(Prop.forAll(small(oneOf(requirements)), small(oneOf(updates))) { (qs, us) =>
      val c = RestWire.Commit(qs, us)
      RestWire.Commit.from(wire(c.json)) == c
    })
  }

  test("the other request bodies and the namespace path segment round-trip") {
    val levels = small(text.suchThat(!_.contains('\u001f'))).suchThat(_.nonEmpty)
    check(Prop.forAll(levels, strings) { (ns, props) =>
      val n = RestWire.Namespace(ns, props)
      val u = RestWire.UpdateNamespace(ns, props)
      RestWire.Namespace.from(wire(n.json)) == n &&
        RestWire.UpdateNamespace.from(wire(u.json)) == u &&
        RestWire.levels(RestWire.decodeSegment(RestWire.segment(ns))) == ns
    })
    check(Prop.forAll(text, schema, spec, strings) { (name, s, p, props) =>
      val c = RestWire.CreateTable(name, s, p.fields, props)
      RestWire.CreateTable.from(wire(c.json)) == c && !RestWire.CreateTable.staged(c.json)
    })
    check(Prop.forAll(levels, text, levels, text) { (a, x, b, y) =>
      val r = RestWire.Rename(Identifier.of(a.toArray, x), Identifier.of(b.toArray, y))
      RestWire.Rename.from(wire(r.json)) == r
    })
  }

  test("perfbench's literal commit bodies decode as before") {
    val append = """{"requirements":[{"type":"assert-table-uuid","uuid":"u-1"}],""" +
      """"updates":[{"action":"append-files","files":["d/a.parquet","d/b.parquet"],""" +
      """"timestamp-ms":1700000000000,"file-stats":{"d/a.parquet":[{"name":"id","min":"1",""" +
      """"max":"9","nulls":0,"fieldId":1,"rows":10}],"d/b.parquet":[]}}]}"""
    assert(RestWire.Commit.from(JsonMethods.parse(append)) == RestWire.Commit(
      Seq(AssertTableUuid("u-1")),
      Seq(AppendFiles(List("d/a.parquet", "d/b.parquet"), 1700000000000L,
        Map("d/a.parquet" -> List(ColStatDef("id", "1", "9", 0, Some(1), Some(10))),
          "d/b.parquet" -> Nil), Map.empty))))
    val props = """{"requirements":[{"type":"assert-table-uuid","uuid":"u-1"}],""" +
      """"updates":[{"action":"set-properties","updates":{"perfbench.client.3":"7"}}]}"""
    assert(RestWire.Commit.from(JsonMethods.parse(props)) == RestWire.Commit(
      Seq(AssertTableUuid("u-1")), Seq(SetProperties(Map("perfbench.client.3" -> "7")))))
  }

  test("defaulted members may be left out") {
    def j(s: String) = JsonMethods.parse(s)
    assert(RestWire.Commit.from(j("{}")) == RestWire.Commit(Nil, Nil))
    assert(RestWire.requirement(j("""{"type":"assert-current-snapshot-id"}""")) ==
      AssertCurrentSnapshotId(None))
    assert(RestWire.update(j("""{"action":"add-schema","schema":{"fields":[]}}""")) ==
      AddSchema(SchemaDef(0, Nil)))
    val before = System.currentTimeMillis()
    val shapes = Seq(
      """"action":"append-files","files":["f"]""" -> ((ts: Long) => AppendFiles(List("f"), ts)),
      """"action":"replace-files","files":["f"]""" -> ((ts: Long) => ReplaceFiles(List("f"), ts)),
      """"action":"overwrite-partitions","files":["f"],"partition-values":[{"p":"1"}]""" ->
        ((ts: Long) => OverwritePartitions(List("f"), List(Map("p" -> "1")), ts)),
      """"action":"rewrite-files","removed-files":["a"],"added-files":["b"]""" ->
        ((ts: Long) => RewriteFiles(List("a"), List("b"), ts)),
      """"action":"append-files-to-ref","ref-name":"audit","files":["f"]""" ->
        ((ts: Long) => AppendFilesToRef("audit", List("f"), ts)),
      """"action":"row-delta","added-files":["f"],"added-delete-files":[]""" ->
        ((ts: Long) => RowDelta(List("f"), Nil, ts)),
      """"action":"rewrite-deletes","removed-delete-files":["d"],"added-delete-files":[]""" ->
        ((ts: Long) => RewriteDeletes(List("d"), Nil, ts)))
    for ((own, expected) <- shapes) {
      // a missing timestamp is now; missing stats and summary are empty
      val u = RestWire.update(j(s"{$own}"))
      val ts = u.asInstanceOf[Product].productIterator.collectFirst { case l: Long => l }.get
      assert(ts >= before && ts <= System.currentTimeMillis() && u == expected(ts), own)
      assert(RestWire.update(j(s"""{$own,"timestamp-ms":5}""")) == expected(5), own)
    }
    assert(RestWire.Namespace.from(j("""{"namespace":["a"]}""")) ==
      RestWire.Namespace(Seq("a"), Map.empty))
    assert(RestWire.UpdateNamespace.from(j("{}")) == RestWire.UpdateNamespace(Nil, Map.empty))
    assert(RestWire.CreateTable.from(j("""{"name":"t","schema":{"fields":[]}}""")) ==
      RestWire.CreateTable("t", SchemaDef(0, Nil), Nil, Map.empty))
    assert(RestWire.CreateTable.staged(j("""{"stage-create":true}""")))
  }

  test("a malformed body is a MappingException, an unknown kind an IllegalArgumentException") {
    def j(s: String) = JsonMethods.parse(s)
    intercept[MappingException](RestWire.Namespace.from(j("""{"namespace":"not-a-list"}""")))
    intercept[MappingException](RestWire.update(j("""{"action":"set-ref","ref-name":"b"}""")))
    intercept[MappingException](RestWire.requirement(j("{}")))
    intercept[IllegalArgumentException](RestWire.requirement(j("""{"type":"assert-create"}""")))
    intercept[IllegalArgumentException](
      RestWire.update(j("""{"action":"upgrade-format-version"}""")))
  }

  test("each error type reaches the client as the exception it did before") {
    val ns = Seq("db")
    val ident = Identifier.of(ns.toArray, "t")
    val jackson = try { JsonMethods.parse("{not json"); fail() } catch { case e: Exception => e }
    val cases: Seq[(Exception, Int, String, Class[_])] = Seq(
      (new NoSuchNamespaceException(ns.toArray), 404, "NoSuchNamespaceException",
        classOf[NoSuchNamespaceException]),
      (new NoSuchTableException(ident), 404, "NoSuchTableException", classOf[NoSuchTableException]),
      (new NamespaceAlreadyExistsException(ns.toArray), 409, "AlreadyExistsException",
        classOf[IllegalStateException]),
      (new TableAlreadyExistsException(ident), 409, "AlreadyExistsException",
        classOf[IllegalStateException]),
      (new NonEmptyNamespaceException(ns.toArray), 409, "NamespaceNotEmptyException",
        classOf[IllegalStateException]),
      (new CommitFailedException("lost"), 409, "CommitFailedException",
        classOf[CommitFailedException]),
      (new IllegalArgumentException("bad"), 422, "UnprocessableEntityException",
        classOf[IllegalArgumentException]),
      (new MappingException("unmapped"), 400, "BadRequestException", classOf[java.io.IOException]),
      (jackson, 400, "BadRequestException", classOf[java.io.IOException]),
      (new RuntimeException("boom"), 500, "InternalServerError", classOf[java.io.IOException]))
    for ((e, code, tpe, client) <- cases) {
      assert(RestWire.status(e) == (code -> tpe), e)
      val body = JsonMethods.compact(JsonMethods.render(RestWire.error(code, tpe, e.getMessage)))
      assert(body == s"""{"error":{"message":${JsonMethods.compact(JsonMethods.render(
        JString(e.getMessage)))},"type":"$tpe","code":$code}}""")
      val back = RestWire.failure(code, body, ns, Some("t"))
      assert(client.isInstance(back), s"$tpe came back as $back")
      if (code == 409 || code == 422) assert(back.getMessage == e.getMessage)
    }
    assert(RestWire.failure(404, """{"error":{"type":"NoSuchTableException"}}""", ns, Some("t"))
      .asInstanceOf[NoSuchTableException].getMessage.contains("db.t"))
    val html = RestWire.failure(502, "<html>bad gateway</html>", ns, None)
    assert(html.isInstanceOf[java.io.IOException] &&
      html.getMessage == "HTTP 502: <html>bad gateway</html>")
    assert(RestWire.failure(404, "", ns, None).isInstanceOf[NoSuchNamespaceException])
  }
}
