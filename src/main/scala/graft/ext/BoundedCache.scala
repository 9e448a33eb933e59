package graft.ext

/** A weight-bounded, access-ordered LRU map for metadata that is
  * immutable once written (parsed manifests, content-addressed
  * sidecars), so a cached value can never go stale — only be evicted.
  *
  * Bounded by total WEIGHT, not entry count: `weigh` measures a value
  * in the unit that dominates its memory (file-stats entries, blob
  * bytes). When an insert takes the total over `maxWeight`, the least
  * recently used entries are evicted until it fits again — but never
  * the entry just inserted, so one very large hot value still caches.
  *
  * Loading stays with the caller and happens OUTSIDE the lock: a
  * caller `get`s, loads on a miss, and `put`s only what loaded
  * successfully, so a failed or refused load caches nothing and the
  * next read retries it. Two racing loaders of one key both parse and
  * the second `put` replaces the first — harmless for immutable data.
  *
  * Hits, misses and evictions are counted for [[stats]]. */
final class BoundedCache[K, V](maxWeight: Long, weigh: V => Long) {
  private val entries = new java.util.LinkedHashMap[K, (V, Long)](64, 0.75f, true)
  private var weight = 0L
  private var hits = 0L
  private var misses = 0L
  private var evictions = 0L

  def get(key: K): Option[V] = synchronized {
    val e = entries.get(key)
    if (e == null) { misses += 1; None }
    else { hits += 1; Some(e._1) }
  }

  def put(key: K, value: V): Unit = synchronized {
    val w = weigh(value)
    val prev = entries.put(key, (value, w))
    if (prev != null) weight -= prev._2
    weight += w
    // the put moved `key` to the end of the access order, so stopping
    // at one entry never evicts it
    val it = entries.values().iterator()
    while (weight > maxWeight && entries.size() > 1) {
      weight -= it.next()._2
      it.remove()
      evictions += 1
    }
  }

  def remove(keys: Iterable[K]): Unit = synchronized {
    keys.foreach { k =>
      val prev = entries.remove(k)
      if (prev != null) weight -= prev._2
    }
  }

  def removeIf(keyPredicate: K => Boolean): Unit = synchronized {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (keyPredicate(e.getKey)) {
        weight -= e.getValue._2
        it.remove()
      }
    }
  }

  def stats: BoundedCache.Stats = synchronized {
    BoundedCache.Stats(hits, misses, evictions, weight, entries.size())
  }
}

object BoundedCache {
  /** Cumulative counters (hits, misses, evictions) and the current
    * fill (weight, size) of one cache. */
  final case class Stats(hits: Long, misses: Long, evictions: Long,
                         weight: Long, size: Int) {
    /** Counter change since `before`; weight and size stay current. */
    def since(before: Stats): Stats =
      copy(hits = hits - before.hits, misses = misses - before.misses,
        evictions = evictions - before.evictions)
  }
}
