package graft

/** A bounded cache in access order, the one eviction policy of the
  * catalog's memos (snapshot bodies, versions, fragments, loadTable
  * bodies, stream and manifest memos). Entries weigh `weight(v)` (1 by
  * default, so `bound` counts entries); a put that takes the total past
  * `bound` evicts the least recently used entries until it fits, the new
  * one last, so an entry heavier than the whole bound is not kept.
  *
  * All methods hold the instance's lock, under which the class calls
  * only `weight`, a put's condition and `removeIf`'s predicate. Callers
  * load or render a value outside it and `put` the result, so two racing
  * misses may both compute one value, but neither blocks the other's
  * reads. */
final class Lru[K, V](bound: Long, weight: V => Long = (_: V) => 1L) {
  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
  private var total = 0L // guarded by map

  /** The value kept under `k`, now the most recently used. */
  def get(k: K): Option[V] = map.synchronized(Option(map.get(k)))

  /** Keep `v` under `k`, unless an entry is held there and `replaces`
    * declines it, then evict past the bound. */
  def put(k: K, v: V, replaces: V => Boolean = (_: V) => true): Unit = map.synchronized {
    val old = map.get(k)
    if (old == null || replaces(old)) {
      map.put(k, v)
      if (old != null) total -= weight(old)
      total += weight(v)
      val eldest = map.values.iterator
      while (total > bound && eldest.hasNext) {
        total -= weight(eldest.next())
        eldest.remove()
      }
    }
  }

  /** Forget every entry whose key satisfies `p`. */
  def removeIf(p: K => Boolean): Unit = map.synchronized {
    val it = map.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey)) {
        total -= weight(e.getValue)
        it.remove()
      }
    }
  }
}
