package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.commit.MetadataUpdate
import graft.meta._

/** The seven file-carrying updates against generated bases with stats,
  * sequences, equality and position delete files, a branch and a tag.
  * Each kind is checked against one model of its successor snapshot:
  * which files survive with their stats and sequences, which files join
  * at the new sequence, which delete files ride along, the summary (in
  * order, since it is rendered in order), the parent, and what moves
  * (main or the branch). Map iteration order is checked too: it decides
  * the bytes of the rendered snapshot body. Seeds are fixed, so a run
  * checks the same cases every time. */
class FileCarryingUpdateSpec extends AnyFunSuite {
  import FileCarryingUpdateSpec.Expect

  private def check(p: Prop, seed: Long): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(200).withInitialSeed(Seed(seed)), p)
    assert(res.passed, res.status.toString)
  }

  private val cats = List("a", "b", "c")
  private def stat(n: Int) = List(ColStatDef("id", s"$n", s"${n + 9}", n, Some(1)))
  private def subset[A](xs: List[A]): Gen[List[A]] =
    Gen.listOfN(xs.size, Gen.oneOf(true, false)).map(ks => xs.zip(ks).collect { case (x, true) => x })
  private def filesGen(prefix: String, max: Int): Gen[List[String]] =
    Gen.chooseNum(0, max).flatMap(n => Gen.listOfN(n, Gen.oneOf(cats :+ "z")))
      .map(_.zipWithIndex.map { case (c, i) => s"$prefix/__part_cat=$c/f$i.parquet" })
  private def deletesGen(prefix: String, maxSeq: Long): Gen[List[DeleteFileDef]] =
    Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n, for {
      seq <- Gen.chooseNum(1L, maxSeq)
      eq <- Gen.oneOf(true, false) // equality deletes name key fields, position deletes none
      rows <- Gen.chooseNum(0L, 50L)
    } yield (seq, eq, rows))).map(_.zipWithIndex.map { case ((seq, eq, rows), i) =>
      DeleteFileDef(s"$prefix/del-$i.parquet", seq, if (eq) List(1) else Nil, rows, rows * 10)
    })

  /** A snapshot holding `files`, with stats and sequences on random
    * subsets of them and a random delete set. */
  private def snapshotGen(id: Long, prefix: String, maxFiles: Int): Gen[SnapshotDef] = for {
    files <- filesGen(prefix, maxFiles)
    withStats <- subset(files)
    withSeqs <- subset(files)
    seqs <- Gen.listOfN(withSeqs.size, Gen.chooseNum(1L, id))
    deletes <- deletesGen(prefix, id)
  } yield SnapshotDef(id, 1000L * id, "append", files, Map("added-files" -> files.size.toString),
    fileStats = withStats.zipWithIndex.map { case (f, i) => f -> stat(i) }.toMap,
    deleteFiles = deletes, fileSeqs = withSeqs.zip(seqs).toMap)

  /** A table whose branch `audit` points at an older snapshot and whose
    * tag `gold` points at the current one; main is empty one time in
    * six (the branch snapshot then stands alone). */
  private val baseGen: Gen[TableMetadata] = for {
    branch <- snapshotGen(2L, "b", 6)
    current <- snapshotGen(4L, "c", 7)
    empty <- Gen.frequency(1 -> true, 5 -> false)
    gap <- Gen.chooseNum(0L, 3L)
  } yield {
    val m = TableMetadata.empty(uuid = "u-1", location = "/tmp/t",
      schema = SchemaDef(0, List(FieldDef(1, "id", "long", required = true))),
      spec = PartitionSpecDef(0, Nil), order = SortOrderDef(0, Nil), props = Map.empty)
    if (empty) m.copy(snapshots = List(branch), lastSequenceNumber = 2L + gap,
      refs = Map("audit" -> RefDef(2L, "branch")))
    else m.copy(snapshots = List(branch, current.copy(parentId = Some(2L))),
      currentSnapshotId = Some(4L), lastSequenceNumber = 4L + gap,
      refs = Map("audit" -> RefDef(2L, "branch"), "gold" -> RefDef(4L, "tag")))
  }

  private val summaryGen: Gen[Map[String, String]] =
    subset(List("x-job" -> "j1", "x-batch" -> "7")).map(_.toMap)
  private val tsGen = Gen.chooseNum(0L, Long.MaxValue)

  /** `added` files with stats on a random subset, named apart from
    * every base file. */
  private def addedGen(tag: String): Gen[(List[String], Map[String, List[ColStatDef]])] = for {
    added <- filesGen(s"new-$tag", 4)
    withStats <- subset(added)
  } yield (added, withStats.zipWithIndex.map { case (f, i) => f -> stat(100 + i) }.toMap)

  /** Apply `u` to `m` and check the result against `e`. */
  private def holds(m: TableMetadata, u: MetadataUpdate, ts: Long, e: Expect): Boolean = {
    val out = u.apply(m)
    val seq = m.lastSequenceNumber + 1
    val s = out.snapshots.last
    val b = e.base
    val bStats = b.fold(Map.empty[String, List[ColStatDef]])(_.fileStats)
    val bSeqs = b.fold(Map.empty[String, Long])(_.fileSeqs)
    // the base's maps restricted to the kept files when the kind removes
    // files; carried entries iterate first, added ones after
    val removes = e.op != "append" && e.op != "delta" && e.op != "rewrite-deletes"
    val carriedStats = if (removes) bStats.view.filterKeys(e.kept.toSet).toMap else bStats
    val carriedSeqs = if (removes) bSeqs.view.filterKeys(e.kept.toSet).toMap else bSeqs
    val checks = Seq(
      "id, time, operation" -> (s.snapshotId == seq && s.timestampMs == ts && s.operation == e.op),
      "files are kept ++ added" -> (s.files == e.kept ++ e.added),
      "kept files keep stats and sequences" -> e.kept.forall(f =>
        s.fileStats.get(f) == bStats.get(f) && s.fileSeqs.get(f) == bSeqs.get(f)),
      "added files carry the new sequence and their stats" -> e.added.forall(f =>
        s.fileSeqs.get(f).contains(seq) && s.fileStats.get(f) == e.addedStats.get(f)),
      "removed files leave files, stats, sequences" -> e.removed.forall(f =>
        !s.files.contains(f) && !s.fileStats.contains(f) && !s.fileSeqs.contains(f)),
      "stats in order" -> (s.fileStats.toList == (carriedStats ++ e.addedStats).toList),
      "sequences in order" -> (s.fileSeqs.toList == (carriedSeqs ++ e.added.map(_ -> seq)).toList),
      "delete files" -> (s.deleteFiles == e.deletes),
      "summary in order" -> (s.summary.toList == e.summary.toList),
      "parent" -> (s.parentId == b.map(_.snapshotId)),
      "no body reference" -> s.bodyRef.isEmpty,
      "history" -> (out.snapshots == m.snapshots :+ s),
      "main" -> (out.currentSnapshotId == (if (e.ref.isEmpty) Some(seq) else m.currentSnapshotId)),
      "refs" -> (out.refs == e.ref.fold(m.refs)(r => m.refs + (r -> RefDef(seq, "branch")))),
      "last sequence" -> (out.lastSequenceNumber == seq),
      "rest of the table" -> (out.copy(snapshots = m.snapshots, currentSnapshotId = m.currentSnapshotId,
        refs = m.refs, lastSequenceNumber = m.lastSequenceNumber) == m))
    val failed = checks.collect { case (name, false) => name }
    if (failed.nonEmpty) println(s"${e.op} failed: ${failed.mkString(", ")}")
    failed.isEmpty
  }

  private def cur(m: TableMetadata) = m.currentSnapshot
  private def curFiles(m: TableMetadata) = cur(m).fold(List.empty[String])(_.files)
  private def curDeletes(m: TableMetadata) = cur(m).fold(List.empty[DeleteFileDef])(_.deleteFiles)

  test("AppendFiles stacks added files on main's current snapshot") {
    check(Prop.forAll(baseGen, addedGen("a"), tsGen, summaryGen) {
      case (m, (added, stats), ts, extra) =>
        holds(m, MetadataUpdate.AppendFiles(added, ts, stats, extra), ts,
          Expect(cur(m), "append", curFiles(m), Nil, added, stats, curDeletes(m),
            extra + ("added-files" -> added.size.toString)))
    }, 1001L)
  }

  test("OverwritePartitions replaces the matching partitions' files") {
    check(Prop.forAll(baseGen, addedGen("o"), subset(cats), tsGen, summaryGen) {
      case (m, (added, stats), targets, ts, extra) =>
        val (removed, kept) = curFiles(m).partition(f => targets.exists(c => f.contains(s"__part_cat=$c/")))
        holds(m, MetadataUpdate.OverwritePartitions(added, targets.map(c => Map("cat" -> c)), ts, stats, extra),
          ts, Expect(cur(m), "overwrite-partitions", kept, removed, added, stats, curDeletes(m),
            extra + ("added-files" -> added.size.toString) + ("replaced-files" -> removed.size.toString)))
    }, 1002L)
  }

  test("RewriteFiles swaps a subset of main's files") {
    val gen = for { m <- baseGen; removed <- subset(curFiles(m)) } yield (m, removed)
    check(Prop.forAll(gen, addedGen("r"), tsGen, summaryGen) {
      case ((m, removed), (added, stats), ts, extra) =>
        holds(m, MetadataUpdate.RewriteFiles(removed, added, ts, stats, extra), ts,
          Expect(cur(m), "rewrite", curFiles(m).filterNot(removed.toSet), removed, added, stats,
            curDeletes(m), extra + ("rewritten-files" -> removed.size.toString) +
              ("added-files" -> added.size.toString)))
    }, 1003L)
  }

  test("RowDelta adds data and delete files at the new sequence") {
    check(Prop.forAll(baseGen, addedGen("d"), deletesGen("new-del", 9L), tsGen, summaryGen) {
      case (m, (added, stats), dels, ts, extra) =>
        val seq = m.lastSequenceNumber + 1
        holds(m, MetadataUpdate.RowDelta(added, dels, ts, stats, extra), ts,
          Expect(cur(m), "delta", curFiles(m), Nil, added, stats,
            curDeletes(m) ++ dels.map(_.copy(seq = seq)),
            extra + ("added-files" -> added.size.toString) +
              ("added-delete-files" -> dels.size.toString) +
              ("deleted-rows" -> dels.map(_.rows).sum.toString)))
    }, 1004L)
  }

  test("RewriteDeletes swaps delete files and keeps every data file") {
    val gen = for { m <- baseGen; removed <- subset(curDeletes(m).map(_.path)) } yield (m, removed)
    check(Prop.forAll(gen, deletesGen("new-del", 9L), tsGen, summaryGen) {
      case ((m, removed), added, ts, extra) =>
        val u = MetadataUpdate.RewriteDeletes(removed, added, ts, extra)
        if (cur(m).isEmpty)
          scala.util.Try(u.apply(m)).failed.toOption.exists(_.isInstanceOf[IllegalStateException])
        else holds(m, u, ts, Expect(cur(m), "rewrite-deletes", curFiles(m), Nil, Nil, Map.empty,
          // added delete files keep the sequence their caller stamped
          curDeletes(m).filterNot(d => removed.contains(d.path)) ++ added,
          extra + ("removed-delete-files" -> removed.size.toString) +
            ("added-delete-files" -> added.size.toString)))
    }, 1005L)
  }

  test("ReplaceFiles holds exactly the new files and no delete files") {
    check(Prop.forAll(baseGen, addedGen("p"), tsGen, summaryGen) {
      case (m, (added, stats), ts, extra) =>
        holds(m, MetadataUpdate.ReplaceFiles(added, ts, stats, extra), ts,
          Expect(cur(m), "overwrite", Nil, curFiles(m), added, stats, Nil,
            extra + ("added-files" -> added.size.toString)))
    }, 1006L)
  }

  test("AppendFilesToRef stacks on the branch head and moves only the branch") {
    check(Prop.forAll(baseGen, addedGen("b"), tsGen, summaryGen) {
      case (m, (added, stats), ts, extra) =>
        val head = m.snapshots.find(_.snapshotId == m.refs("audit").snapshotId)
        val tagRefused = m.refs.get("gold").forall(_ =>
          scala.util.Try(MetadataUpdate.AppendFilesToRef("gold", added, ts).apply(m)).isFailure)
        tagRefused && holds(m, MetadataUpdate.AppendFilesToRef("audit", added, ts, stats, extra), ts,
          Expect(head, "append", head.get.files, Nil, added, stats, head.get.deleteFiles,
            extra + ("added-files" -> added.size.toString) + ("branch" -> "audit"), Some("audit")))
    }, 1007L)
  }
}

object FileCarryingUpdateSpec {
  /** What one update of a kind must do to a table: the base it stacks
    * on, the files that stay and leave, the files that join with their
    * stats, the delete files and summary of the result, and the branch
    * it moves (None: main). */
  final case class Expect(base: Option[SnapshotDef], op: String,
                          kept: List[String], removed: List[String],
                          added: List[String], addedStats: Map[String, List[ColStatDef]],
                          deletes: List[DeleteFileDef], summary: Map[String, String],
                          ref: Option[String] = None)
}
