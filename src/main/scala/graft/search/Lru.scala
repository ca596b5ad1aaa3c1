package graft.search

/** Fetch-through LRU: the one class behind every LRU serving cache on a
  * [[GraftIndex]] handle (postings, forward rows, candidate bitmaps,
  * position rows, pair frequencies, derivations, filter bitmaps and the
  * attribute-strata memo), so they all rotate with the handle.
  *
  * Bounded by `budget` in units of `weigh`: bytes for the byte-budgeted
  * caches, `1` per entry for the entry-capped ones. A value is weighed when
  * it is installed and again when it is evicted, so entries are stored
  * bare (an entry-capped cache may hold 65,536 of them).
  *
  * A fetch (a Spark job or a direct parquet read on a cold miss) runs
  * OUTSIDE the lock: one cold query never blocks a concurrent hit. Two
  * threads missing the same key both fetch it, and the first install is
  * kept. A value heavier than the whole budget is returned but not kept. */
private[search] final class Lru[K, V](budget: Long, weigh: V => Long) {
  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
  private var total = 0L
  private var nHits = 0L
  private var nMisses = 0L

  /** Keys found cached, over every lookup. */
  def hits: Long = synchronized(nHits)
  /** Keys not found cached, over every lookup. */
  def misses: Long = synchronized(nMisses)

  /** Values of every distinct key in `keys`. Hits are captured under the
    * lock (refreshing their recency); `fetchMissing` then runs once,
    * outside it, with only the keys that missed, and must return a value
    * for each of them (callers cache an absent key as a value of their
    * choosing). The captured hits are returned even if this call's own
    * installs evict them. Returned values are shared: never mutate them. */
  def getAll(keys: Iterable[K])(fetchMissing: Seq[K] => collection.Map[K, V])
      : Map[K, V] = {
    val found = Map.newBuilder[K, V]
    val missing = Vector.newBuilder[K]
    synchronized {
      keys.iterator.distinct.foreach { k =>
        val v = map.get(k)
        if (v != null) { found += k -> v; nHits += 1 }
        else { missing += k; nMisses += 1 }
      }
    }
    val miss = missing.result()
    if (miss.isEmpty) return found.result()
    val fetched = fetchMissing(miss)
    val values = miss.map(k => k -> fetched(k))
    synchronized {
      values.foreach { case (k, v) => install(k, v) }
      evict()
    }
    found.result() ++ values
  }

  /** One key's value, if cached (refreshes its recency). */
  def get(k: K): Option[V] = synchronized {
    val v = map.get(k)
    if (v != null) { nHits += 1; Some(v) } else { nMisses += 1; None }
  }

  /** Install one value; a key already present keeps its value. */
  def put(k: K, v: V): Unit = synchronized { install(k, v); evict() }

  def clear(): Unit = synchronized { map.clear(); total = 0L }

  private def install(k: K, v: V): Unit =
    if (!map.containsKey(k)) {
      val w = weigh(v)
      if (w <= budget) { map.put(k, v); total += w }
    }

  /** Eldest first, until the total weight is within the budget. */
  private def evict(): Unit = {
    val it = map.values().iterator()
    while (total > budget && it.hasNext) {
      total -= weigh(it.next())
      it.remove()
    }
  }
}
