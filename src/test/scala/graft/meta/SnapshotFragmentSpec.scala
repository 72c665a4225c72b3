package graft.meta

import java.io.{ByteArrayOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.json4s.jackson.Serialization
import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Compact renders splice each snapshot's kept payload fragments
  * ([[MetaJson.Fragments]]). Every spliced render must be byte-equal to
  * a fresh one: json4s `Serialization.write`, which no fragment reaches,
  * encoded as UTF-8 the way the REST server's writer encodes. */
class SnapshotFragmentSpec extends AnyFunSuite {
  import TableMetadata.formats

  /** The REST server's pipeline: a generator over a UTF-8 writer. */
  private def spliced(m: TableMetadata): Array[Byte] = {
    val out = new ByteArrayOutputStream
    val g = MetaJson.factory.createGenerator(new OutputStreamWriter(out, UTF_8))
    MetaJson.writeTable(g, m)
    g.close()
    out.toByteArray
  }

  private def fresh(m: TableMetadata): Array[Byte] = Serialization.write(m).getBytes(UTF_8)

  private def same(m: TableMetadata): Boolean = java.util.Arrays.equals(spliced(m), fresh(m))

  private def assertSame(m: TableMetadata): Unit = {
    val got = spliced(m)
    val want = fresh(m)
    val at = java.util.Arrays.mismatch(got, want)
    def near(b: Array[Byte]) = new String(b.slice(at - 40, at + 40), UTF_8)
    assert(at == -1, s"bytes differ at $at:\n got: ${near(got)}\nwant: ${near(want)}")
  }

  private val table0 = TableMetadata.empty("u", "loc",
    SchemaDef(0, List(FieldDef(1, "id", "long", required = true))),
    PartitionSpecDef(0, Nil), SortOrderDef(0, Nil), Map.empty)

  private def table(snaps: SnapshotDef*): TableMetadata = table0.copy(snapshots = snaps.toList)

  // ---- generated tables -------------------------------------------------

  /** Escapes, non-ASCII and lone surrogates, as in MetaJsonPropertySpec. */
  private val text: Gen[String] = Gen.frequency(
    4 -> Gen.alphaNumStr.map(_.take(12)),
    3 -> Gen.listOf(Gen.oneOf(Seq('"', '\\', '\n', '\u0001', 'a', 'é', '中',
      '\uD83D', '\uDE00'))).map(_.take(12).mkString),
    1 -> Arbitrary.arbitrary[String].map(_.take(12)))

  private def small[A](g: Gen[A]): Gen[List[A]] = Gen.choose(0, 4).flatMap(Gen.listOfN(_, g))
  private def mapOf[V](v: Gen[V]): Gen[Map[String, V]] =
    Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.zip(text, v))).map(_.toMap)

  private val long = Arbitrary.arbitrary[Long]
  private val colStat = for {
    n <- text; lo <- text; hi <- text; nulls <- long
    fid <- Gen.option(Arbitrary.arbitrary[Int]); rows <- Gen.option(long)
  } yield ColStatDef(n, lo, hi, nulls, fid, rows)
  private val deleteFile = for {
    p <- text; seq <- long; keys <- small(Arbitrary.arbitrary[Int]); rows <- long; bytes <- long
  } yield DeleteFileDef(p, seq, keys, rows, bytes)

  /** Body names come from a small pool, so generated snapshots keep
    * meeting names kept for other payloads. */
  private val snapshot = for {
    id <- long; op <- text; files <- small(text); summary <- mapOf(text)
    stats <- mapOf(small(colStat)); deletes <- small(deleteFile); seqs <- mapOf(long)
    parent <- Gen.option(long)
    ref <- Gen.option(Gen.oneOf("snap-1-a.body.json", "snap-2-b.body.json", "snap-3-c.body.json"))
  } yield SnapshotDef(id, 0L, op, files, summary, stats, deletes, seqs, parent, ref)

  /** The same payload in new instances: equal, and in the same
    * iteration order. */
  private def copied(s: SnapshotDef): SnapshotDef =
    s.copy(files = s.files.map(identity), fileStats = s.fileStats.map(identity),
      deleteFiles = s.deleteFiles.map(identity), fileSeqs = s.fileSeqs.map(identity))

  test("every generated table: spliced renders equal a fresh render, first, again and copied") {
    val p = Prop.forAll(small(snapshot)) { snaps =>
      val m = table(snaps: _*)
      same(m) && same(m) && same(m.copy(snapshots = m.snapshots.map(copied)))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  // ---- the hit rule -----------------------------------------------------

  test("a snapshot whose bodyRef is stale against its payload is rendered fresh") {
    val name = s"snap-1-${java.util.UUID.randomUUID()}.body.json"
    val s = SnapshotDef(1L, 0L, "append", List("a.parquet"), Map.empty,
      fileSeqs = Map("a.parquet" -> 1L), bodyRef = Some(name))
    assertSame(table(s))
    assert(MetaJson.keptFragments(name).exists(_.files == "[\"a.parquet\"]"))
    // the payload changed under the old name
    val stale = s.copy(files = List("a.parquet", "b.parquet"),
      fileSeqs = Map("a.parquet" -> 1L, "b.parquet" -> 2L))
    assertSame(table(stale))
    assertSame(table(stale.copy(files = List("a.parquet"))))
    assertSame(table(s))
  }

  test("an equal payload in another iteration order renders its own order") {
    val name = s"snap-1-${java.util.UUID.randomUUID()}.body.json"
    val s = SnapshotDef(1L, 0L, "append", List("a", "b"), Map.empty,
      fileSeqs = Map("a" -> 1L, "b" -> 2L), bodyRef = Some(name))
    val reordered = s.copy(fileSeqs = Map("b" -> 2L, "a" -> 1L))
    assert(reordered.fileSeqs == s.fileSeqs)
    assertSame(table(s))
    assertSame(table(reordered))
    assertSame(table(s))
  }

  test("a hit by equality keeps the fragments again, from the snapshot's own instances") {
    val name = s"snap-1-${java.util.UUID.randomUUID()}.body.json"
    val s = SnapshotDef(1L, 0L, "append", List("a.parquet", "b.parquet"), Map.empty,
      fileStats = Map("a.parquet" -> List(ColStatDef("id", "1", "9", 0L, Some(1), Some(9L)))),
      fileSeqs = Map("a.parquet" -> 1L, "b.parquet" -> 1L), bodyRef = Some(name))
    assertSame(table(s))
    val first = MetaJson.keptFragments(name).get
    // the same payload parsed again after the body cache let it go
    val reparsed = copied(s)
    assert(!(reparsed.files eq s.files) && reparsed.files == s.files)
    assertSame(table(reparsed))
    val kept = MetaJson.keptFragments(name).get
    assert(kept.src.files eq reparsed.files)
    assert(kept.src.fileStats eq reparsed.fileStats)
    assert(kept.src.fileSeqs eq reparsed.fileSeqs)
    assert(kept.files eq first.files, "the kept strings are reused, not rendered again")
    assertSame(table(reparsed))
    assert(MetaJson.keptFragments(name).get eq kept, "a hit by identity keeps the entry as it is")
  }

  test("one body shared by two tables: persist keeps its fragments, both tables render them") {
    val store = new MetadataStore(Files.createTempDirectory("graft-frag-wh").toString)
    store.createNamespace(Seq("ns"), Map.empty)
    val snap = SnapshotDef(7L, 1L, "append", List("x.parquet", "y \"q\" é.parquet"),
      Map("added-files" -> "2"),
      fileStats = Map("x.parquet" -> List(ColStatDef("id", "1", "9", 0L, Some(1), Some(9L)))),
      fileSeqs = Map("x.parquet" -> 7L, "y \"q\" é.parquet" -> 7L))
    for (t <- Seq("a", "b")) {
      store.createTable(Seq("ns"), t, table0)
      // each table commits its own instances of the same content
      val s = copied(snap)
      assert(store.commit(Seq("ns"), t, 1,
        table(s).copy(currentSnapshotId = Some(7L), lastSequenceNumber = 1L)))
    }
    val (a, _) = store.load(Seq("ns"), "a")
    val (b, _) = store.load(Seq("ns"), "b")
    val name = a.snapshots.head.bodyRef.get
    assert(b.snapshots.head.bodyRef.contains(name), "same content, same body name")
    // the fragments persist rendered are kept, from b's instances (its
    // commit came last): b hits by identity, a by equality
    val kept = MetaJson.keptFragments(name).get
    assert(kept.src.files eq b.snapshots.head.files)
    assert(!(kept.src.files eq a.snapshots.head.files))
    assertSame(a)
    assertSame(b)
    assertSame(a)
  }

  test("a render after the fragment cache evicted the snapshot renders it again") {
    val run = java.util.UUID.randomUUID()
    val name = s"snap-1-$run.body.json"
    val s = SnapshotDef(1L, 0L, "append", List("evicted.parquet", "\uD83D lone"), Map.empty,
      fileSeqs = Map("evicted.parquet" -> 1L), bodyRef = Some(name))
    assertSame(table(s))
    assert(MetaJson.keptFragments(name).isDefined)
    // stream more than the bound's worth of other payloads through
    val big = (1 to 20000).map(i => f"part-$i%08d-0000000000000000000000000.parquet").toList
    val filler = SnapshotDef(2L, 0L, "append", big, Map.empty)
    val chars = MetaJson.fragments(SnapshotBodies.Body(big, Map.empty, Nil, Map.empty)).chars
    (0L to MetaJson.FragmentChars / chars + 1).foreach { i =>
      spliced(table(filler.copy(bodyRef = Some(s"snap-2-$run-$i.body.json"))))
    }
    assert(MetaJson.keptFragments(name).isEmpty, "the first snapshot was not evicted")
    assertSame(table(s))
    assert(MetaJson.keptFragments(name).isDefined, "the fresh render was not kept")
  }

  test("pretty version documents never splice compact fragments") {
    val name = s"snap-1-${java.util.UUID.randomUUID()}.body.json"
    // an empty payload renders `[]` compact but `[ ]` pretty
    val s = SnapshotDef(1L, 0L, "append", Nil, Map.empty, bodyRef = Some(name))
    assertSame(table(s))
    assert(TableMetadata.toJson(table(s)) == Serialization.writePretty(table(s)))
  }
}
