package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantLock

/** A thread-safe, access-ordered LRU map bounded by weight: each value
  * weighs `weigh(v)` units, and the least recently used entries leave once
  * the total passes `capacity`. A value heavier than `capacity` is never
  * stored. `onEvict` sees every entry that leaves (evicted by the bound,
  * removed by [[removeWhere]] or [[clear]]), least recently used first,
  * and runs after the map's lock is released, so it may block or take
  * other locks.
  *
  * A [[get]] never waits: it reads a concurrent map and moves the entry to
  * the recent end only when the lock is free, so under contention the
  * order is approximate; single-threaded it is exact. A get racing an
  * eviction may still return the evicted value.
  */
final class BoundedLru[K, V <: AnyRef](capacity: Long, weigh: V => Long, onEvict: (K, V) => Unit) {
  private val values = new ConcurrentHashMap[K, V]()
  // the same entries, least recently used first; guarded by `lock`
  private val order = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
  private val lock = new ReentrantLock()
  private var used = 0L

  private def locked[A](body: => A): A = { lock.lock(); try body finally lock.unlock() }

  /** The cached value of `k`, now the most recently used, or null. */
  def get(k: K): V = {
    val v = values.get(k)
    if (v != null && lock.tryLock()) try order.get(k) finally lock.unlock()
    v
  }

  /** The value cached for `k`: an existing one, else `v`, which is stored
    * unless it alone is heavier than `capacity`. A caller whose `v` lost
    * to an existing value disposes of `v` itself.
    */
  def putIfAbsent(k: K, v: V): V = insert(k, v, replace = false)

  /** Store `v` for `k` unless it alone is heavier than `capacity`; a value
    * it replaces leaves without reaching `onEvict`. Returns `v`.
    */
  def put(k: K, v: V): V = insert(k, v, replace = true)

  private def insert(k: K, v: V, replace: Boolean): V = {
    var out = v
    val evicted = locked {
      val old = order.get(k)
      if (old != null && !replace) { out = old; Nil }
      else {
        val w = weigh(v)
        if (w > capacity) Nil
        else {
          if (old != null) used -= weigh(old)
          order.put(k, v)
          values.put(k, v)
          used += w
          var gone = List.empty[(K, V)]
          val it = order.entrySet().iterator()
          while (used > capacity && it.hasNext) {
            val e = it.next()
            used -= weigh(e.getValue)
            gone ::= (e.getKey -> e.getValue)
            values.remove(e.getKey)
            it.remove()
          }
          gone.reverse
        }
      }
    }
    evicted.foreach { case (ek, ev) => onEvict(ek, ev) }
    out
  }

  /** Drop every entry `p` holds for. */
  def removeWhere(p: (K, V) => Boolean): Unit = {
    val removed = locked {
      var gone = List.empty[(K, V)]
      val it = order.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (p(e.getKey, e.getValue)) {
          used -= weigh(e.getValue)
          gone ::= (e.getKey -> e.getValue)
          values.remove(e.getKey)
          it.remove()
        }
      }
      gone.reverse
    }
    removed.foreach { case (k, v) => onEvict(k, v) }
  }

  def clear(): Unit = removeWhere((_, _) => true)
}
