package graft.sources

import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** Per-JVM cache of values derived from one file each: a table's
  * `_table.json` parse, a bloom sidecar, a tombstone key set, a parquet
  * footer schema. An entry is keyed on the file's normalized absolute
  * path (plus an optional `variant` when one file yields several
  * values) and is valid for one fingerprint — nanosecond mtime plus
  * size, read with a single `readAttributes` per lookup. Every
  * rewrite this engine performs goes through an atomic move (a fresh
  * inode with a fresh mtime), so a changed file is seen on the next
  * lookup, including a rewrite by another process. The one rewrite a
  * stat cannot see — same size within one filesystem clock tick — is
  * closed for the writer's own JVM by [[invalidate]], which every
  * writer of a cached file calls after its swap.
  *
  * The file is stat'ed BEFORE it is loaded, so an entry never carries a
  * fingerprint newer than its content: a racing rewrite costs one extra
  * load, never a stale hit. A missing file throws
  * `NoSuchFileException`; callers that give a missing file a meaning
  * check for it first.
  *
  * `soft` values are held through a `SoftReference`, for caches whose
  * values are large (tombstone key sets, bloom filters): the JVM may
  * reclaim them under memory pressure and the next lookup reloads.
  * [[loads]] counts physical loads — misses, stale entries and
  * reclaimed soft values. */
private[graft] final class StatCache[V <: AnyRef](soft: Boolean = false) {
  private[sources] val entries = // package-visible for tests
    new ConcurrentHashMap[(String, String), ((Long, Long), AnyRef)]()

  val loads = new AtomicLong(0L)

  def get(file: Path, variant: String = "")(load: => V): V = {
    val key = (file.toAbsolutePath.normalize.toString, variant)
    val attrs = Files.readAttributes(file, classOf[BasicFileAttributes])
    val fp = (attrs.lastModifiedTime.to(TimeUnit.NANOSECONDS), attrs.size)
    val hit = entries.get(key)
    if (hit != null && hit._1 == fp) {
      val v =
        if (soft) hit._2.asInstanceOf[java.lang.ref.SoftReference[V]].get
        else hit._2.asInstanceOf[V]
      if (v != null) return v
    }
    loads.incrementAndGet()
    val v = load
    entries.put(key, (fp, if (soft) new java.lang.ref.SoftReference(v) else v))
    v
  }

  /** Drop every entry of `file` (all variants). */
  def invalidate(file: Path): Unit = {
    val p = file.toAbsolutePath.normalize.toString
    entries.keySet.removeIf(_._1 == p)
  }
}
