package graft.meta

import org.json4s.jackson.Serialization
import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck identity of the hand-written metadata writer against
  * json4s reflection, the serializer it replaced: every version
  * document, REST response and snapshot body must keep its exact bytes
  * (body names are content hashes of them). The generators set and unset
  * every optional field, so a case-class field the writer misses, or
  * writes out of order, fails here. */
class MetaJsonPropertySpec extends AnyFunSuite {
  import TableMetadata.formats

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  /** Text that exercises escaping: quotes, backslashes, control
    * characters, non-ASCII (BMP and supplementary), plus arbitrary
    * strings (lone surrogates included). */
  private val text: Gen[String] = Gen.frequency(
    4 -> Gen.alphaNumStr.map(_.take(12)),
    4 -> Gen.listOf(Gen.oneOf(Seq('"', '\\', '/', '\n', '\t', '\r', '\b', '\f',
      '\u0000', '\u0001', '\u001f', '\u007f', 'a', ' ', '\u00e9', '\u00df',
      '\u4e2d', '\u2028', '\ufffd', '\uD83D', '\uDE00'))).map(_.take(16).mkString),
    1 -> Arbitrary.arbitrary[String].map(_.take(16)))

  private def small[A](g: Gen[A]): Gen[List[A]] =
    Gen.choose(0, 4).flatMap(Gen.listOfN(_, g))

  /** Maps of 0 to 6 entries: the small-map classes and a hash map. */
  private def mapOf[V](v: Gen[V]): Gen[Map[String, V]] =
    Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.zip(text, v))).map(_.toMap)

  private val long = Arbitrary.arbitrary[Long]
  private val int = Arbitrary.arbitrary[Int]

  private val primitive = Gen.oneOf("long", "string", "timestamp", "decimal(10,2)",
    "list<int>")

  /** A field whose type is a primitive or an id-carrying
    * `struct{...}` type string (JSON inside a JSON string). */
  private val field: Gen[FieldDef] = for {
    id <- int; name <- text; req <- Arbitrary.arbitrary[Boolean]
    nested <- small(Gen.zip(Gen.choose(1, 99), text, primitive))
    prim <- primitive
    struct <- Arbitrary.arbitrary[Boolean]
  } yield FieldDef(id, name,
    if (struct) SchemaBridge.formatStruct(nested.map { case (i, n, t) =>
      FieldDef(i, n, t, required = false) })
    else prim, req)

  private val schema = Gen.zip(int, small(field)).map(SchemaDef.tupled)
  private val spec = Gen.zip(int, small(Gen.zip(int, text, text)
    .map(PartitionFieldDef.tupled))).map(PartitionSpecDef.tupled)
  private val order = Gen.zip(int, small(Gen.zip(int, text, text)
    .map(SortFieldDef.tupled))).map(SortOrderDef.tupled)

  private val colStat = for {
    n <- text; lo <- text; hi <- text; nulls <- long
    fid <- Gen.option(int); rows <- Gen.option(long)
  } yield ColStatDef(n, lo, hi, nulls, fid, rows)

  private val deleteFile = for {
    p <- text; seq <- long; keys <- small(int); rows <- long; bytes <- long
  } yield DeleteFileDef(p, seq, keys, rows, bytes)

  private val body = for {
    files <- small(text); stats <- mapOf(small(colStat))
    deletes <- small(deleteFile); seqs <- mapOf(long)
  } yield SnapshotBodies.Body(files, stats, deletes, seqs)

  private val snapshot = for {
    id <- long; ts <- long; op <- text; summary <- mapOf(text); b <- body
    parent <- Gen.option(long); ref <- Gen.option(text)
  } yield SnapshotDef(id, ts, op, b.files, summary, b.fileStats,
    b.deleteFiles, b.fileSeqs, parent, ref)

  private val table: Gen[TableMetadata] = for {
    version <- int; uuid <- text; loc <- text
    lastCol <- int; schemas <- small(schema); cur <- int
    specs <- small(spec); orders <- small(order); props <- mapOf(text)
    current <- Gen.option(long); snaps <- small(snapshot); seq <- long
    refs <- mapOf(Gen.zip(long, Gen.oneOf("branch", "tag", "")).map(RefDef.tupled))
  } yield TableMetadata(version, uuid, loc, lastCol, cur, schemas, cur, specs,
    cur, orders, props, current, snaps, seq, refs)

  private def compact(m: TableMetadata): String = {
    val out = new java.io.StringWriter
    val g = MetaJson.factory.createGenerator(out)
    MetaJson.writeTable(g, m)
    g.close()
    out.toString
  }

  test("compact table output equals Serialization.write") {
    check(Prop.forAll(table)(m => compact(m) == Serialization.write(m)))
  }

  test("version documents equal Serialization.writePretty") {
    check(Prop.forAll(table)(m => TableMetadata.toJson(m) == Serialization.writePretty(m)))
  }

  test("snapshot bodies equal Serialization.write(Body)") {
    check(Prop.forAll(body)(b => MetaJson.body(b) == Serialization.write(b)))
  }
}
