package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ext.BoundedCache

/** The one weighted LRU behind the versioned store's metadata caches:
  * eviction order, the keep-the-newest rule, weight bookkeeping on
  * removal, and the hit/miss/eviction counters. No Spark needed. */
class BoundedCacheSpec extends AnyFunSuite {
  /** Values weigh their own length. */
  private def cache(max: Long) = new BoundedCache[String, String](max, _.length.toLong)

  private def keys(c: BoundedCache[String, String], all: Seq[String]): Seq[String] =
    all.filter(k => c.get(k).nonEmpty)

  test("over the bound, the least recently used entries are evicted first") {
    val c = cache(6)
    c.put("a", "xx"); c.put("b", "xx"); c.put("c", "xx")
    assert(c.stats.weight == 6 && c.stats.size == 3)
    c.put("d", "xxx") // 9 > 6: a then b go, c (2) + d (3) = 5 fits
    assert(c.stats.evictions == 2)
    assert(c.stats.weight == 5 && c.stats.size == 2)
    assert(keys(c, Seq("a", "b", "c", "d")) == Seq("c", "d"))
  }

  test("a get refreshes recency, so the touched entry outlives older ones") {
    val c = cache(6)
    c.put("a", "xx"); c.put("b", "xx"); c.put("c", "xx")
    assert(c.get("a").contains("xx")) // b is now the eldest
    c.put("d", "xx")
    assert(keys(c, Seq("a", "b", "c", "d")) == Seq("a", "c", "d"))
  }

  test("an over-bound insert keeps the inserted entry and evicts everything else") {
    val c = cache(4)
    c.put("a", "xx"); c.put("b", "xx")
    c.put("huge", "x" * 10)
    assert(c.stats.size == 1 && c.stats.weight == 10 && c.stats.evictions == 2)
    assert(c.get("huge").contains("x" * 10))
    // the next insert evicts the oversized entry in turn
    c.put("e", "x")
    assert(keys(c, Seq("huge", "e")) == Seq("e") && c.stats.weight == 1)
  }

  test("re-putting a key replaces its weight instead of adding to it") {
    val c = cache(100)
    c.put("a", "xxxx"); c.put("a", "x")
    assert(c.stats.weight == 1 && c.stats.size == 1)
  }

  test("remove and removeIf drop entries and correct the weight") {
    val c = cache(100)
    Seq("t1/v0" -> "xxx", "t1/v1" -> "xxxx", "t2/v0" -> "xxxxx").foreach {
      case (k, v) => c.put(k, v) }
    c.remove(Seq("t1/v1", "absent"))
    assert(c.stats.weight == 8 && c.stats.size == 2)
    c.removeIf(_.startsWith("t1/"))
    assert(c.stats.weight == 5 && c.stats.size == 1)
    assert(c.get("t2/v0").contains("xxxxx") && c.get("t1/v0").isEmpty)
    // removals are not evictions
    assert(c.stats.evictions == 0)
  }

  test("counters match a scripted sequence of gets and puts") {
    val c = cache(3)
    val before = c.stats
    assert(c.get("a").isEmpty)         // miss
    c.put("a", "x")
    assert(c.get("a").nonEmpty)        // hit
    assert(c.get("a").nonEmpty)        // hit
    assert(c.get("b").isEmpty)         // miss
    c.put("b", "xx")                   // weight 3: fits
    c.put("c", "x")                    // weight 4: evicts a
    assert(c.get("a").isEmpty)         // miss
    assert(c.get("c").nonEmpty)        // hit
    val d = c.stats.since(before)
    assert((d.hits, d.misses, d.evictions) == ((3L, 3L, 1L)))
    assert(d.weight == 3 && d.size == 2)
  }
}
