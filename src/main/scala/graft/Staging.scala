package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of persisted intermediates. Two tiers:
  *
  *  - **Query tier.** [[persist]] pins a DataFrame or RDD at
  *    MEMORY_AND_DISK and registers it on its session; [[scope]] runs a
  *    body and then unpersists what that session registered. Operators
  *    return lazy results, so they cannot unpersist before the caller's
  *    action runs — the caller's scope ends after it. Registration is
  *    per session: Verify's workers each run on their own `newSession()`
  *    clone, and releasing one clone never touches another clone's
  *    in-flight plans. An unpersisted plan stays valid; releasing early
  *    only costs a recompute.
  *  - **Memo tier.** [[memo]] computes a dimension-sized staged value
  *    (a node table, a label table) once and keeps it across scopes.
  *    It is keyed on the session's `sharedState`, because a persisted
  *    plan lives in that state's `CacheManager`: every `newSession()`
  *    clone of one context reuses one pinned copy. [[invalidate]] drops
  *    a directory's entries and [[releaseAll]] a whole state's; both
  *    unpersist every DataFrame or RDD the memoized value holds.
  *
  * Owners are weakly keyed; a released session's query tier holds
  * nothing that keeps the session reachable. */
object Staging {

  /** Weakly keyed owner → its own value, made on first use. */
  private[graft] final class PerOwner[O <: AnyRef, V <: AnyRef](make: () => V) {
    private val m = java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[O, V]())

    def apply(o: O): V = m.synchronized {
      var v = m.get(o)
      if (v == null) { v = make(); m.put(o, v) }
      v
    }

    def get(o: O): Option[V] = Option(m.get(o))

    def remove(o: O): Option[V] = Option(m.remove(o))

    def entries: Seq[(O, V)] = m.synchronized {
      import scala.jdk.CollectionConverters._
      m.asScala.toSeq
    }
  }

  private val pins = new PerOwner[SparkSession, ConcurrentLinkedQueue[AnyRef]](
    () => new ConcurrentLinkedQueue[AnyRef]())

  /** A memo slot: computed once under its own lock, so nested memo
    * computes (community labels → community edges → user nodes) take
    * different locks instead of re-entering one map's `computeIfAbsent`. */
  private final class Slot { var value: Option[Any] = None }

  // Keyed on `spark.sharedState` (its class is private to Spark).
  private val memos = new PerOwner[AnyRef,
    ConcurrentHashMap[(String, String), Slot]](
    () => new ConcurrentHashMap[(String, String), Slot]())

  /** Persist `df` and register it for release at the end of its
    * session's [[scope]]. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    pins(df.sparkSession).add(p)
    p
  }

  /** Persist `rdd` and register it on `spark` for release at the end of
    * that session's [[scope]]. */
  def persist[T](spark: SparkSession, rdd: RDD[T]): RDD[T] = {
    val p = rdd.persist(StorageLevel.MEMORY_AND_DISK)
    pins(spark).add(p)
    p
  }

  /** Run `body`, then unpersist what `spark` registered. */
  def scope[T](spark: SparkSession)(body: => T): T =
    try body finally release(spark)

  /** Unpersist what `spark` (this session only) registered. Idempotent. */
  def release(spark: SparkSession): Unit = pins.get(spark).foreach(drain)

  /** The value memoized for (`dir`, `name`) on `spark`'s shared state,
    * computed by `compute` on first use. What the value holds must be
    * materialized inside `compute`: the query-tier pins it was built
    * from are released when the caller's scope ends. */
  def memo[V](spark: SparkSession, dir: String, name: String)(
      compute: => V): V = {
    val slot = memos(spark.sharedState)
      .computeIfAbsent((dir, name), _ => new Slot)
    slot.synchronized {
      if (slot.value.isEmpty) slot.value = Some(compute)
      slot.value.get.asInstanceOf[V]
    }
  }

  /** Drop and unpersist the memo entries under `dir`, so the next
    * [[memo]] call recomputes from the directory's current files. */
  def invalidate(spark: SparkSession, dir: String): Unit =
    memos.get(spark.sharedState).foreach { m =>
      m.keySet().forEach { k =>
        if (k._1 == dir) Option(m.remove(k)).foreach(unpinSlot)
      }
    }

  /** Release everything staged on `spark`'s shared state: every
    * session's query-tier registrations and every memo entry. For a
    * runner or suite that is done with the context's staged data. */
  def releaseAll(spark: SparkSession): Unit = {
    val state = spark.sharedState
    pins.entries.foreach { case (s, q) => if (s.sharedState eq state) drain(q) }
    memos.remove(state).foreach(_.values().forEach(unpinSlot))
  }

  private def drain(q: ConcurrentLinkedQueue[AnyRef]): Unit = {
    var p = q.poll()
    while (p != null) { unpin(p); p = q.poll() }
  }

  private def unpinSlot(slot: Slot): Unit =
    slot.synchronized { slot.value.foreach(unpin); slot.value = None }

  private def unpin(v: Any): Unit = v match {
    case d: Dataset[_] => d.unpersist(blocking = false)
    case r: RDD[_] => r.unpersist(blocking = false)
    case t: Product => t.productIterator.foreach(unpin)
    case _ =>
  }
}
