package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one bounded cache behind the catalog's memos ([[Lru]]). */
class LruSpec extends AnyFunSuite {

  private def weighed(bound: Long) = new Lru[String, String](bound, _.length.toLong)

  private def keys(c: Lru[String, String], all: Seq[String]): Seq[String] =
    all.filter(k => c.get(k).isDefined)

  test("a weight bound evicts in access order, least recently used first") {
    val c = weighed(10)
    c.put("a", "xxx")
    c.put("b", "xxx")
    c.put("c", "xxx")
    assert(c.get("a").contains("xxx")) // a is now the most recently used
    c.put("d", "xxx") // 12 > 10: b, the least recently used, goes
    assert(c.get("b").isEmpty)
    c.put("e", "xxxx") // 13 > 10: c goes, though a was put before it
    assert(keys(c, Seq("a", "b", "c", "d", "e")) == Seq("a", "d", "e"))
    c.put("f", "xxxxx") // 15 > 10: a, then d (the lookups touched a, d, e)
    assert(keys(c, Seq("a", "d", "e", "f")) == Seq("e", "f"))
  }

  test("an entry count is the default weight") {
    val c = new Lru[Int, Int](bound = 3)
    (1 to 5).foreach(i => c.put(i, i))
    assert((1 to 5).flatMap(c.get) == Seq(3, 4, 5))
  }

  test("a replaced entry gives back its old weight") {
    val c = weighed(10)
    c.put("a", "xxxxxxxx")
    c.put("a", "x") // 8 given back: a weighs 1 now
    c.put("b", "xxxxxxxxx") // 1 + 9 = 10 fits
    assert(c.get("a").contains("x"))
    assert(c.get("b").contains("xxxxxxxxx"))
  }

  test("an entry heavier than the whole bound is not kept") {
    val c = weighed(10)
    c.put("a", "xxx")
    c.put("big", "x" * 11)
    assert(c.get("big").isEmpty)
    // it was evicted last, after every lighter entry
    assert(c.get("a").isEmpty)
    c.put("b", "x" * 10)
    assert(c.get("b").isDefined, "an entry of exactly the bound fits")
  }

  test("a conditional put that declines leaves the entry unchanged") {
    val c = weighed(10)
    c.put("t", "v2")
    var asked = Option.empty[String]
    c.put("t", "v1", replaces = { kept => asked = Some(kept); kept < "v1" })
    assert(asked.contains("v2"), "the condition sees the kept value")
    assert(c.get("t").contains("v2"))
    // the declined value's weight was not counted
    c.put("u", "xxxxxxxx")
    assert(c.get("t").contains("v2") && c.get("u").isDefined)
    c.put("t", "v3", replaces = _ < "v3")
    assert(c.get("t").contains("v3"))
    c.put("new", "x", replaces = _ => false)
    assert(c.get("new").contains("x"), "the condition only guards a held entry")
  }

  test("removeIf by key prefix forgets those entries and their weight") {
    val c = weighed(10)
    Seq("wh/a/metadata/1", "wh/a/metadata/2", "wh/ab/metadata/1", "wh/b/metadata/1")
      .foreach(c.put(_, "xx"))
    c.removeIf(_.startsWith("wh/a/"))
    assert(keys(c, Seq("wh/a/metadata/1", "wh/a/metadata/2", "wh/ab/metadata/1",
      "wh/b/metadata/1")) == Seq("wh/ab/metadata/1", "wh/b/metadata/1"))
    c.put("c", "xxxxxx") // 4 + 6 = 10 fits only if the removed weight was given back
    assert(keys(c, Seq("wh/ab/metadata/1", "wh/b/metadata/1", "c")).size == 3)
  }
}
