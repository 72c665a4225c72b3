package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source-level gate for the one-cache design: a bounded memo in
  * `src/main` is an [[Lru]], not another hand-rolled map with its own
  * eviction loop. Two memos are documented holdouts: `GraftTable`'s
  * `posMarkedCache` and `bloomDirtyCache` run a Spark job in their
  * loader inside `computeIfAbsent`, so a key is computed once under
  * concurrency, which `Lru` (loaders outside its lock) does not give. */
class CacheGateSpec extends AnyFunSuite {

  private val lruFile = "src/main/scala/graft/Lru.scala"
  private val holdouts = Seq("posMarkedCache", "bloomDirtyCache")

  private def read(f: File): String = {
    val s = scala.io.Source.fromFile(f, "UTF-8")
    try s.mkString finally s.close()
  }

  private def scalaFiles(dir: File): Seq[File] = dir.listFiles.toSeq.flatMap { f =>
    if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
  }

  /** The file's text with comment lines blanked: the explanatory
    * comments may name the patterns they forbid. */
  private def code(f: File): String = read(f).linesIterator.map { l =>
    val t = l.trim
    if (t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")) "" else l
  }.mkString("\n")

  private val forbidden = Seq(
    "removeEldestEntry" -> "removeEldestEntry".r,
    // new LinkedHashMap[..](capacity, load factor, true)
    "access-ordered LinkedHashMap" ->
      """(?s)LinkedHashMap\b[^;{}=]{0,200}?\(\s*[^,()]+,\s*[^,()]+,\s*true\s*\)""".r,
    // if (m.size >= max) m.clear()
    "clear-when-full eviction" -> """\.size\s*>=?[^;{}\n]*\n?[^;{}\n]*\.clear\(\)""".r)

  test("no bounded memo in src/main evicts by hand outside Lru and the two holdouts") {
    val hits = for {
      f <- scalaFiles(new File("src/main/scala"))
      if f.getPath != lruFile
      src = code(f)
      (what, re) <- forbidden
      m <- re.findAllMatchIn(src)
      if !holdouts.exists(m.matched.contains)
    } yield s"${f.getPath}:${src.take(m.start).count(_ == '\n') + 1}: $what"
    assert(hits.isEmpty, "hand-rolled cache eviction found:\n" + hits.mkString("\n"))
  }

  test("the gate's patterns catch the forms they forbid") {
    val samples = Seq(
      "removeEldestEntry" ->
        "override def removeEldestEntry(e: java.util.Map.Entry[String, V]) = size > 4",
      "access-ordered LinkedHashMap" ->
        "new java.util.LinkedHashMap[(Seq[String], String), V](\n    16, 0.75f, true)",
      "clear-when-full eviction" -> "if (cache.size >= CacheMax) cache.clear()",
      "clear-when-full eviction" -> "if (cache.size > (1 << 20))\n  cache.clear()")
    samples.foreach { case (what, s) =>
      assert(forbidden.toMap.apply(what).findFirstIn(s).isDefined, s"$what missed: $s")
    }
    assert(forbidden.forall(_._2.findFirstIn(
      "val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]").isEmpty))
  }

  test("the catalog's bounded memos are Lru instances") {
    val caches = Seq(
      "meta/SnapshotBodies.scala" -> "cache",
      "meta/BlobMetaStore.scala" -> "versions",
      "meta/BlobMetaStore.scala" -> "seenVersions",
      "meta/MetaJson.scala" -> "kept",
      "server/RestServer.scala" -> "loadBodies",
      "catalog/GraftMicroBatchStream.scala" -> "fileSetCache",
      "catalog/GraftMicroBatchStream.scala" -> "appendDeltaCache",
      "catalog/ChangesTable.scala" -> "appendFilesCache",
      "llm/AnnIndex.scala" -> "rowBoundCache",
      "catalog/ManifestFileIndex.scala" -> "fileLenCache")
    val missing = caches.filterNot { case (file, name) =>
      s"""val $name\\s*=\\s*new graft\\.Lru\\[""".r
        .findFirstIn(read(new File(s"src/main/scala/graft/$file"))).isDefined
    }
    assert(missing.isEmpty, s"not an Lru: ${missing.mkString(", ")}")
  }
}
