package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.warehouse.StampedCache

/** The warehouse metadata cache on its own: exact-stamp hits, an LRU
  * bound, and eviction scoped to the exact table root. */
class StampedCacheSpec extends AnyFunSuite {

  test("a hit needs the exact stamp; a new stamp reloads and replaces") {
    val c = new StampedCache(8)
    var loads = 0
    def load(stamp: (Long, Long)) =
      c.getOrLoad("file:/wh/t", "snap-00001.meta", stamp) { loads += 1; s"v$loads" }
    assert(load((10L, 100L)) === "v1")
    assert(load((10L, 100L)) === "v1")
    assert(load((10L, 101L)) === "v2", "a changed mtime must miss")
    assert(loads === 2)
    assert(c.get[String]("file:/wh/t", "snap-00001.meta", (10L, 100L)).isEmpty,
      "the replaced stamp no longer hits")
  }

  test("inserting past the cap evicts only the least recently used entry") {
    val c = new StampedCache(3)
    Seq("a", "b", "c").foreach(n => c.put("r", n, 1L, n))
    assert(c.get[String]("r", "a", 1L).contains("a")) // a is now the most recent
    c.put("r", "d", 1L, "d")
    assert(c.names("r").toSet === Set("a", "c", "d"), "b was least recently used")
    c.put("r", "e", 1L, "e")
    assert(c.names("r").toSet === Set("a", "d", "e"))
  }

  test("a delete-key capture still being read outlives stale captures of compacted batches") {
    val c = new StampedCache(4)
    def name(id: Long) = f"snap-$id%05d.delkeys"
    c.put("r", name(1), 1001L, "live")
    // a long trickle: every later capture is read once, then its batch is
    // compacted away and never read again, while batch 1 stays live
    for (id <- 2L to 20L) {
      c.put("r", name(id), 1000L + id, s"k$id")
      assert(c.get[String]("r", name(1), 1001L).contains("live"))
    }
    assert(c.names("r").contains(name(1)))
    assert(c.names("r").size === 4)
    assert(!c.names("r").contains(name(2)), "the stale captures age out")
  }

  test("evictRoot matches the root exactly, not by prefix") {
    val c = new StampedCache(16)
    c.put("file:/wh/t1", "snap-00001.meta", 1L, "one")
    c.put("file:/wh/t10", "snap-00001.meta", 1L, "ten")
    c.put("file:/wh/t1/x", "snap-00001.meta", 1L, "nested")
    c.evictRoot("file:/wh/t1")
    assert(c.names("file:/wh/t1").isEmpty)
    assert(c.get[String]("file:/wh/t10", "snap-00001.meta", 1L).contains("ten"))
    assert(c.get[String]("file:/wh/t1/x", "snap-00001.meta", 1L).contains("nested"))
  }
}
