package graft

import org.apache.spark.sql.SparkSession

/** Per-session memo of computed values keyed by `K` — the shared
  * machinery behind [[Tables]]'s plan memo, [[operators.Graph]]'s staged
  * node table, and the entity-resolution label stage: DataFrames are
  * immutable plan handles, so reuse across queries is safe, and keying
  * WEAKLY on the session keeps short-lived sessions collectible.
  *
  * A persisted value is NOT released with its session: the cache lives
  * in the SparkContext's shared `CacheManager`, and `newSession()`
  * clones share the context, so a dropped clone's persisted entries
  * stay pinned until the context stops. A runner that takes a fresh
  * clone per pass re-persists them each pass (q171's
  * [[operators.Graph.stagedUserNodes]] table: one more pinned RDD per
  * clone, still pinned after a GC).
  *
  * Deliberately NOT part of the [[operators.Dedup.releaseCaches]] queue:
  * entries are session-lifetime by design — reserve it for bounded
  * dimension-sized plans (node tables, label tables), never for
  * corpus-sized intermediates. */
final class SessionMemo[K, V] {
  private val perSession = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[K, V]]())

  def getOrElseUpdate(spark: SparkSession, key: K)(compute: => V): V = {
    val m = perSession.synchronized {
      var inner = perSession.get(spark)
      if (inner == null) {
        inner = new java.util.concurrent.ConcurrentHashMap[K, V]()
        perSession.put(spark, inner)
      }
      inner
    }
    m.computeIfAbsent(key, _ => compute)
  }
}
