package graft.operators

/** Size-bounded per-JVM LRU cache for loaded index artifacts (HNSW
  * graphs, IVF/PQ/SQ/BinaryIVF centroid tables) — the `VICacheManager`
  * analog with the reference's missing half: the reference cache is
  * SIZE-BOUNDED with eviction (`VICacheManager.cpp`), while an unbounded
  * TrieMap is an OOM vector at 100 TB where an executor touches
  * thousands of parts over a job's lifetime. Eviction is safe by
  * construction: every entry is loaded from a persisted artifact
  * (parquet graph rows / centroid files) inside the task that needs it,
  * so an evicted entry simply reloads on next use — correctness is
  * unaffected, only reload I/O.
  *
  * Keys carry the build id of the artifact behind the entry
  * (`indexDir#part@buildId` for HNSW graphs, `indexDir/<table>@buildId`
  * for the [[IndexArtifact]] tables), so a rebuild by any JVM makes the
  * next search miss rather than serve the old index; nothing is ever
  * invalidated for correctness.
  *
  * Weights are caller-estimated footprint bytes. The budget comes from
  * a Spark conf key read via `SparkEnv` when available (works on both
  * driver and executors) with a per-cache default; entries larger than
  * the whole budget are still served but not retained.
  *
  * Access order is LRU via a synchronized [[java.util.LinkedHashMap]].
  * Loading runs OUTSIDE the map's monitor with a per-key in-flight
  * latch (r22, guide §2.6): concurrent cold loads of DIFFERENT parts in
  * one JVM proceed in parallel (the r21 form ran the loader — a parquet
  * decode + graph build, or a driver-side Spark collect — inside one
  * global lock, serializing every first-touch task and making cold
  * latency scale with core count); concurrent loads of the SAME key
  * still collapse to one load.
  */
private[graft] final class BoundedCache[V](
    confKey: String, defaultBudget: String) {

  private def budgetBytes: Long =
    Option(org.apache.spark.SparkEnv.get)
      .map(_.conf.getSizeAsBytes(confKey, defaultBudget))
      .getOrElse(org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(defaultBudget))

  private final case class Entry(value: V, weight: Long)

  private var total = 0L
  private val map = new java.util.LinkedHashMap[String, Entry](
    64, 0.75f, /* accessOrder = */ true)
  // one latch per key currently loading; loaders insert, waiters await
  private val inFlight =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.CountDownLatch]()

  /** Cached-hit lookup (refreshes LRU order) — null on miss. */
  private def lookup(key: String): Entry = synchronized(map.get(key))

  /** Insert under the monitor, evicting LRU entries past the budget. */
  private def insert(key: String, v: V, w: Long): Unit = synchronized {
    val old = map.remove(key)
    if (old != null) total -= old.weight
    val budget = budgetBytes
    if (w <= budget) {
      total += w
      map.put(key, Entry(v, w))
      val it = map.entrySet().iterator()
      while (total > budget && it.hasNext) {
        val e = it.next()
        if (e.getKey != key) { // never evict the entry just added
          total -= e.getValue.weight
          it.remove()
        }
      }
    } // oversized values are served uncached
  }

  /** Cached value, loading (and weighing) on miss; evicts
    * least-recently-used entries until the budget holds. `weigh` runs
    * once per load on the loaded value. The load itself runs outside
    * the cache monitor; racing loads of one key collapse to one loader
    * (losers await its latch, then re-check the map).
    */
  def getOrLoad(key: String)(load: => V)(weigh: V => Long): V = {
    while (true) {
      val hit = lookup(key)
      if (hit != null) return hit.value
      val latch = new java.util.concurrent.CountDownLatch(1)
      val prev = inFlight.putIfAbsent(key, latch)
      if (prev == null) {
        // this thread is the loader for `key` — unless a loader that
        // finished between the miss above and winning the slot already
        // inserted the value
        try {
          val raced = lookup(key)
          if (raced != null) return raced.value
          val v = load
          insert(key, v, math.max(0L, weigh(v)))
          return v
        } finally {
          inFlight.remove(key, latch)
          latch.countDown()
        }
      } else {
        // another thread is loading `key`: wait, then re-check. If the
        // loader failed (or the value was oversized/evicted), the next
        // loop iteration makes this thread the loader.
        prev.await()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Insert/overwrite an entry (build-time warm insert), evicting LRU
    * entries past the budget like [[getOrLoad]].
    */
  def put(key: String, value: V)(weigh: V => Long): Unit =
    insert(key, value, math.max(0L, weigh(value)))

  /** Drop every entry whose key starts with `prefix`. */
  def invalidatePrefix(prefix: String): Unit = synchronized {
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.startsWith(prefix)) { total -= e.getValue.weight; it.remove() }
    }
  }

  // test hooks
  private[graft] def size: Int = synchronized(map.size())
  private[graft] def weightedTotal: Long = synchronized(total)
  private[graft] def keys: Seq[String] = synchronized {
    import scala.jdk.CollectionConverters._
    map.keySet().asScala.toSeq
  }
}
