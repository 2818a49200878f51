package graft.operators

import org.apache.spark.sql.SparkSession

/** Memoized once-per-(session, key) values whose build thunk has side
  * effects (`persist()`, table writes): one slot per key, and only that
  * slot's monitor guards ITS build — two racing first callers of the
  * SAME key serialize, while distinct keys build concurrently.
  *
  * `TrieMap.getOrElseUpdate` putIfAbsent's the RESULT, not the thunk,
  * so under a first-call race the losing thunk still runs: with a
  * `persist()` inside, the loser's cached DataFrame is never
  * referenced again and leaks executor blocks for the session lifetime
  * (ADVICE r11 — dsir/pagerank caches; the same latent pattern in the
  * ivf/pq index caches). This is [[DiskLayoutCache]]'s concurrency
  * contract for in-memory values.
  *
  * Stopped sessions are pruned on every lookup; `remove` hands the
  * slot to exactly one thread, which runs `evict` (unpersist, …)
  * best-effort — a stopped session's DataFrames can't execute, so
  * nothing can still be reading the value.
  */
private[graft] final class SessionCache[K, V](evict: V => Unit) {
  private final class Slot { @volatile var value: AnyRef = _ }
  private val cache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, K), Slot]

  def getOrBuild(s: SparkSession, key: K)(build: => V): V = {
    cache.keys.filter(_._1.sparkContext.isStopped).foreach { k =>
      cache.remove(k).foreach { slot =>
        val v = slot.value
        if (v != null)
          try evict(v.asInstanceOf[V]) catch { case _: Throwable => () }
      }
    }
    val slot = cache.getOrElseUpdate((s, key), new Slot)
    val ready = slot.value
    if (ready != null) ready.asInstanceOf[V]
    else slot.synchronized {
      if (slot.value == null) slot.value = build.asInstanceOf[AnyRef]
      slot.value.asInstanceOf[V]
    }
  }
}
