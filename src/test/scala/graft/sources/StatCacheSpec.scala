package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.TimeUnit

import graft.SparkSpec
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** [[StatCache]]: one entry per normalized path, valid for one
  * (nanosecond mtime, size) fingerprint — including rewrites by another
  * process that a millisecond mtime cannot see. */
class StatCacheSpec extends SparkSpec {
  import spark.implicits._

  // A whole millisecond, so +900 µs stays inside it.
  private val t0Nanos = 1700000000000L * 1000000L

  private def pin(p: Path, nanos: Long): Unit =
    Files.setLastModifiedTime(p, FileTime.from(nanos, TimeUnit.NANOSECONDS))

  private def text(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  private def write(p: Path, s: String): Unit =
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))

  /** Cancels the test on a filesystem that truncates mtimes to
    * milliseconds or coarser: there a same-millisecond rewrite is
    * indistinguishable by stat, and the case would prove nothing. */
  private def assumeNanos(p: Path): Unit = {
    pin(p, t0Nanos + 900000L)
    if (Files.getLastModifiedTime(p).to(TimeUnit.NANOSECONDS) != t0Nanos + 900000L)
      cancel("filesystem does not keep sub-millisecond mtimes")
  }

  test("a same-size rewrite within the same millisecond reloads") {
    val f = Files.createTempDirectory("statcache").resolve("f")
    write(f, "aaaa")
    assumeNanos(f)
    pin(f, t0Nanos)
    val c = new StatCache[String]()
    assert(c.get(f)(text(f)) == "aaaa")
    assert(c.get(f)(text(f)) == "aaaa")
    assert(c.loads.get == 1)
    write(f, "bbbb")
    pin(f, t0Nanos + 900000L)
    assert(c.get(f)(text(f)) == "bbbb")
    assert(c.loads.get == 2)
  }

  test("readMeta sees a same-size cross-process rewrite in the same millisecond") {
    val dir = Files.createTempDirectory("statcache_meta")
    val schema = StructType(Seq(StructField("id", LongType)))
    GraftCatalog.overwriteMeta(dir, schema, Nil, Map("codec" -> "gzip"))
    val m = GraftCatalog.metaPath(dir)
    assumeNanos(m)
    pin(m, t0Nanos)
    assert(GraftCatalog.readMeta(dir)._3("codec") == "gzip")
    assert(ManifestSink.codecAt(dir.toString) == "gzip")
    // Another process swaps in zstd: same byte size, 900 µs later, and
    // no invalidation reaches this JVM.
    val zstd = text(m).replace("\"gzip\"", "\"zstd\"")
    assert(zstd.length == text(m).length)
    write(m, zstd)
    pin(m, t0Nanos + 900000L)
    assert(GraftCatalog.readMeta(dir)._3("codec") == "zstd")
    assert(ManifestSink.codecAt(dir.toString) == "zstd")
  }

  test("the same mtime with a different size reloads") {
    val f = Files.createTempDirectory("statcache").resolve("f")
    write(f, "aaaa")
    pin(f, t0Nanos)
    val c = new StatCache[String]()
    assert(c.get(f)(text(f)) == "aaaa")
    write(f, "bbbbbb")
    pin(f, t0Nanos)
    assert(c.get(f)(text(f)) == "bbbbbb")
    assert(c.loads.get == 2)
  }

  test("a/./b and a/b share one entry") {
    val dir = Files.createTempDirectory("statcache")
    val f = dir.resolve("b")
    write(f, "x")
    val c = new StatCache[String]()
    val first = c.get(Paths.get(dir.toString, ".", "b"))(text(f))
    assert(c.get(f)(text(f)) eq first)
    assert(c.loads.get == 1 && c.entries.size == 1)
    // Variants of one file are separate entries; invalidate drops all.
    c.get(f, "other")(text(f))
    assert(c.entries.size == 2)
    c.invalidate(Paths.get(dir.toString, ".", "b"))
    assert(c.entries.isEmpty)
  }

  test("a cleared soft value reloads, and the reload is counted") {
    val f = Files.createTempDirectory("statcache").resolve("f")
    write(f, "aaaa")
    val c = new StatCache[String](soft = true)
    val first = c.get(f)(text(f))
    assert((c.get(f)(text(f)) eq first) && c.loads.get == 1)
    // What the collector does under memory pressure.
    c.entries.values.forEach(
      _._2.asInstanceOf[java.lang.ref.SoftReference[_]].clear())
    assert(c.get(f)(text(f)) == "aaaa")
    assert(c.loads.get == 2)
  }

  test("the events-schema probe runs once per events file version") {
    val dir = Files.createTempDirectory("statcache_events")
    val staged = Files.createTempDirectory("statcache_staged").resolve("w").toString
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("event_id", "ts", "value").coalesce(1).write.parquet(staged)
    val part = Files.list(Paths.get(staged)).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve("events.parquet"))
    val cache = graft.streaming.Streams.eventsSchemaCache
    val before = cache.loads.get
    graft.streaming.Streams.eventsStream(spark, dir.toString)
    graft.streaming.Streams.eventsStream(spark, dir.toString)
    assert(cache.loads.get - before == 1, "second call must hit the cache")
  }
}
