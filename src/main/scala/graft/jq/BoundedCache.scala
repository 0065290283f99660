package graft.jq

import java.util.concurrent.ConcurrentHashMap

/** Per-JVM memo for heavyweight per-program state (compiled programs,
  * compiled regexes) that stops growing at `max` entries: past the bound a
  * miss is computed and returned uncached, so a workload streaming distinct
  * keys cannot grow the map without limit. An exception from `compute`
  * propagates and caches nothing. */
private[jq] final class BoundedCache[K, V <: AnyRef](max: Int) {
  private val map = new ConcurrentHashMap[K, V]()

  def size: Int = map.size

  def getOrCompute(key: K)(compute: K => V): V = {
    val hit = map.get(key)
    if (hit != null) hit
    else if (map.size >= max) compute(key)
    else map.computeIfAbsent(key, k => compute(k))
  }
}
