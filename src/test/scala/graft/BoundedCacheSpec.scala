package graft

import graft.operators.BoundedCache

/** The size-bounded artifact cache (r21: VICacheManager's missing
  * eviction half — the unbounded TrieMap was an OOM vector at 100 TB
  * part counts). Budgets resolve from an absent conf key to the default
  * passed at construction, so each test drives its own budget.
  */
class BoundedCacheSpec extends SparkSpec {

  private def cache(budget: String) =
    new BoundedCache[String](s"spark.graft.test.absent.$budget", budget)

  test("entries under budget are retained and hit") {
    val c = cache("100")
    var loads = 0
    def load(k: String): String =
      c.getOrLoad(k) { loads += 1; k * 2 }(_ => 10L)
    assert(load("a") === "aa"); assert(load("a") === "aa")
    assert(loads === 1)
    assert(c.size === 1 && c.weightedTotal === 10L)
  }

  test("LRU eviction keeps total weight within budget") {
    val c = cache("100")
    (1 to 12).foreach(i => c.getOrLoad(s"k$i")(s"v$i")(_ => 10L))
    assert(c.weightedTotal <= 100L)
    assert(c.size === 10)
    // k1 and k2 evicted; k12 (newest) retained
    assert(!c.keys.contains("k1") && !c.keys.contains("k2"))
    assert(c.keys.contains("k12"))
  }

  test("access refreshes recency — a touched entry survives eviction") {
    val c = cache("100")
    (1 to 10).foreach(i => c.getOrLoad(s"k$i")(s"v$i")(_ => 10L))
    c.getOrLoad("k1")(fail("k1 must be a hit"))(_ => 10L) // touch k1
    c.getOrLoad("k11")("v11")(_ => 10L) // evicts k2 (now the LRU), not k1
    assert(c.keys.contains("k1") && !c.keys.contains("k2"))
  }

  test("an entry larger than the whole budget is served but not retained") {
    val c = cache("100")
    var loads = 0
    def load(): String = c.getOrLoad("big") { loads += 1; "x" }(_ => 500L)
    assert(load() === "x"); assert(load() === "x")
    assert(loads === 2) // never cached
    assert(c.size === 0)
  }

  test("cold loads of DIFFERENT keys run concurrently (r22: load outside the monitor)") {
    // Loader A blocks until loader B has completed. Under the r21
    // global-lock form this deadlocks (B waits on the monitor A holds);
    // with per-key in-flight latches B finishes and unblocks A.
    val c = cache("1000")
    val bDone = new java.util.concurrent.CountDownLatch(1)
    val aStarted = new java.util.concurrent.CountDownLatch(1)
    @volatile var aResult: String = null
    val tA = new Thread(() => {
      aResult = c.getOrLoad("a") {
        aStarted.countDown()
        assert(bDone.await(10, java.util.concurrent.TimeUnit.SECONDS),
          "load of 'b' never completed while 'a' was loading")
        "va"
      }(_ => 1L)
    })
    tA.start()
    assert(aStarted.await(10, java.util.concurrent.TimeUnit.SECONDS))
    assert(c.getOrLoad("b")("vb")(_ => 1L) === "vb") // must not block on A
    bDone.countDown()
    tA.join(10000)
    assert(aResult === "va")
    assert(c.keys.toSet === Set("a", "b"))
  }

  test("racing loads of the SAME key collapse to one loader") {
    val c = cache("1000")
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    val inLoad = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t1 = new Thread(() => results.add(c.getOrLoad("k") {
      loads.incrementAndGet(); inLoad.countDown()
      assert(release.await(10, java.util.concurrent.TimeUnit.SECONDS)); "v"
    }(_ => 1L)))
    t1.start()
    assert(inLoad.await(10, java.util.concurrent.TimeUnit.SECONDS))
    val t2 = new Thread(() => results.add(c.getOrLoad("k") {
      loads.incrementAndGet(); "v2-should-not-load"
    }(_ => 1L)))
    t2.start()
    // t2 parks on t1's in-flight latch — the only wait on its path while
    // t1's load is held open — before t1 is released
    while (t2.isAlive && t2.getState != Thread.State.WAITING) Thread.onSpinWait()
    release.countDown()
    t1.join(10000); t2.join(10000)
    assert(loads.get === 1)
    assert(results.size === 2 && results.toArray.forall(_ === "v"))
  }

  test("a thread that wins the in-flight slot after the load finished does not reload") {
    // The window: a thread misses the map, the first loader inserts and
    // frees its slot, then the late thread wins the slot. It must re-check
    // the map rather than load again. Threads race through the same keys;
    // every key must load exactly once.
    val c = cache("1g")
    val nKeys = 100000
    val nThreads = 4
    val loads = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CyclicBarrier(nThreads)
    val threads = Seq.fill(nThreads)(new Thread(() => {
      start.await()
      var i = 0
      while (i < nKeys) {
        c.getOrLoad(s"k$i") { loads.incrementAndGet(); "v" }(_ => 1L)
        i += 1
      }
    }))
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(c.size === nKeys)
    assert(loads.get === nKeys, s"${loads.get - nKeys} redundant load(s)")
  }

  test("put overwrites weight accounting; invalidatePrefix drops matching keys") {
    val c = cache("100")
    c.put("a#1", "v")(_ => 10L)
    c.put("a#1", "w")(_ => 30L) // overwrite: total must be 30, not 40
    c.put("a#2", "v")(_ => 10L)
    c.put("b#1", "v")(_ => 10L)
    assert(c.weightedTotal === 50L)
    c.invalidatePrefix("a#")
    assert(c.keys === Seq("b#1") && c.weightedTotal === 10L)
  }
}
