package graft.queryengine

import org.scalatest.funsuite.AnyFunSuite

/** The df LRU must treat `contains` as an access: globalDf
  * probes its hit terms via contains and THEN inserts this query's
  * misses — if contains didn't touch, a full cache could evict a hit
  * term during the miss inserts and the final apply() would throw. */
class BoundedLruSpec extends AnyFunSuite {

  test("contains counts as an access: a probed hit survives this query's miss inserts") {
    val lru = new SearchEngine.BoundedLruLong(4)
    for (i <- 1 to 4) lru.update(s"t$i", i.toLong) // access order: t1 eldest
    // globalDf's pattern: probe the hit first…
    assert(lru.contains("t1"))
    // …then insert a miss; the eviction must take the true eldest (t2),
    // not the just-probed t1
    lru.update("m1", 99L)
    assert(lru.contains("t1"), "a just-probed hit must not be evicted")
    assert(lru("t1") == 1L) // the read globalDf does last — must not throw
    assert(!lru.contains("t2"), "the untouched eldest is the one evicted")
  }
}
