package graft.operators

/** Bounded driver-side memo of built artifacts: the 8 most recently
  * used entries, access-ordered. The build runs OUTSIDE the lock,
  * because it runs a Spark job; two threads missing the same key both
  * build and the later `put` wins, which is harmless for the
  * deterministic artifacts memoized here. Eviction only forgets an
  * entry: a plan still holding the evicted value keeps it valid.
  *
  * `valid` re-checks a hit against live state (a registry name that a
  * reset registry no longer holds); a hit that fails it rebuilds.
  */
private[graft] final class LruMemo[K, V] {
  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      size > 8
  }

  def getOrBuild(key: K, valid: V => Boolean = (_: V) => true)(build: => V): V =
    map.synchronized(Option(map.get(key))).filter(valid).getOrElse {
      val v = build
      map.synchronized(map.put(key, v))
      v
    }
}
