package graft.ops

import org.apache.spark.broadcast.Broadcast
import graft.core._

/** Executor-local ShapeIndex cache keyed by broadcast id: operators that
  * query a broadcast shape set build the index once per executor JVM
  * (the reference's lazy one-time index build, shapeindex.go:789-863),
  * not once per row. Broadcast ids grow monotonically over a long-lived
  * executor's life, so the cache is a size-capped LRU: the oldest index
  * (from a long-finished job) is evicted, never the one the current
  * stage is probing.
  */
object IndexCache {
  private val MaxEntries = 32
  // Reads must stay lock-free: forPolylines runs once PER ROW inside the
  // kNN/farthest UDFs, so a synchronized LRU map would serialize every
  // executor core through one mutex (and an access-ordered LinkedHashMap
  // mutates on get, so even hits would need the lock). Hits go through a
  // ConcurrentHashMap; the size cap evicts in insertion order (broadcast
  // ids are monotone, so the oldest entry is the stalest) under a lock
  // taken only on insert.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Long, ShapeIndex]()
  // Boxed Long: poll() must be null-checkable on an empty queue (an
  // unboxed queue silently turns null into 0L and would evict id 0).
  private val insertionOrder =
    new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

  private def getOrBuild(id: Long)(build: => ShapeIndex): ShapeIndex = {
    val hit = cache.get(id)
    if (hit != null) return hit
    val idx = cache.computeIfAbsent(id, _ => { insertionOrder.add(id); build })
    // Evict outside the compute lambda (a mapping function must stay
    // simple and must not throw control flow through the map).
    var guard = 0
    while (cache.size() > MaxEntries && guard < MaxEntries) {
      val eldest = insertionOrder.poll()
      if (eldest == null) guard = MaxEntries
      else if (eldest.longValue == id) insertionOrder.add(eldest) // never self-evict
      else cache.remove(eldest.longValue)
      guard += 1
    }
    idx
  }

  /** Index over a broadcast polyline set (ids map to shape ids by order). */
  def forPolylines(bc: Broadcast[Seq[(Long, Polyline)]]): ShapeIndex =
    getOrBuild(bc.id) {
      val idx = new ShapeIndex()
      bc.value.foreach { case (_, pl) => idx.add(PolylineShape(pl)) }
      idx.iterator() // force the one-time build
      idx
    }
}
