package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Focused coverage of round-18's optimization internals: commit-side
  * generation-cache updates (read-your-writes under stat-invisible
  * rewrites), meta-cache invalidation on both meta writers and in the
  * lookups derived from the meta, loud failure on unreadable meta, the
  * size-derived rank bucket count, and the size-derived streaming state
  * partitions. */
class R18OptimizationSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A BIGINT column declared GENERATED ALWAYS AS IDENTITY. */
  private def identityCol(name: String, start: Long, step: Long) = {
    val ic = org.apache.spark.sql.catalyst.util.IdentityColumn
    org.apache.spark.sql.types.StructField(name,
      org.apache.spark.sql.types.LongType, nullable = true,
      new org.apache.spark.sql.types.MetadataBuilder()
        .putLong(ic.IDENTITY_INFO_START, start)
        .putLong(ic.IDENTITY_INFO_STEP, step)
        .putBoolean(ic.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT, false).build())
  }

  test("version() reflects a commit immediately even when the rewrite " +
      "is stat-invisible (same size, same mtime tick)") {
    val dir = tmpDir("r18gen")
    Seq((1L, "a")).toDF("id", "v").write.mode("append")
      .format("graft.sources.ManifestSink").option("path", dir).save()
    val g1 = ManifestSink.cachedGeneration(dir)
    Seq((2L, "b")).toDF("id", "v").write.mode("append")
      .format("graft.sources.ManifestSink").option("path", dir).save()
    val g2 = ManifestSink.cachedGeneration(dir)
    assert(g2 == g1 + 1, s"append must advance the generation ($g1 -> $g2)")
    // Worst case the stat fingerprint cannot see: a rewrite that keeps
    // the BYTE SIZE (generation digit 2 -> 3) and lands within the same
    // mtime tick (mtime pinned back). A pure stat check would keep
    // serving g2 forever; the publish path's commit-side update
    // (noteCommittedGeneration) is what closes this — emulate the swap
    // + hook exactly as writePointer performs them.
    val m = Paths.get(dir, "manifest.json")
    val mtime = Files.getLastModifiedTime(m)
    val txt = new String(Files.readAllBytes(m), "UTF-8")
    val g3txt = txt.replaceFirst(
      "\"generation\":" + g2, "\"generation\":" + (g2 + 1))
    assert(g3txt.length == txt.length, "test needs a same-size rewrite")
    Files.write(m, g3txt.getBytes("UTF-8"))
    Files.setLastModifiedTime(m, mtime) // stat-identical to the g2 state
    ManifestSink.noteCommittedGeneration(Paths.get(dir), g2 + 1)
    assert(ManifestSink.cachedGeneration(dir) == g2 + 1,
      "committer must read its own same-tick rewrite")
    // And the same-fingerprint merge guard: a racing reader re-reading
    // under the identical fingerprint can never REGRESS the entry.
    assert(ManifestSink.cachedGeneration(dir) == g2 + 1)
  }

  test("readMeta cache invalidates on overwriteMeta within one call") {
    val dir = Paths.get(tmpDir("r18meta"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    GraftCatalog.overwriteMeta(dir, schema, Nil, Map("k" -> "v1"))
    assert(GraftCatalog.readMeta(dir)._3("k") == "v1")
    // Immediate rewrite — possibly within the same mtime tick; the
    // write-path invalidation (not the stat fingerprint) must make the
    // next read see v2.
    GraftCatalog.overwriteMeta(dir, schema, Nil, Map("k" -> "v2"))
    assert(GraftCatalog.readMeta(dir)._3("k") == "v2")
    // The lookups derived from the parse follow an ALTER in the same
    // mtime tick too: read each once, ALTER, pin the mtime back.
    val d = dir.toString
    assert(ManifestSink.codecAt(d) == "")
    assert(ManifestSink.filekindAt(d) == "")
    assert(ManifestSink.blockBytesAt(d) == ManifestSink.DefaultBlockBytes)
    assert(ManifestSink.identityAt(d).isEmpty)
    assert(SchemaEvolution.currentNamesAt(d).isEmpty)
    val m = GraftCatalog.metaPath(dir)
    val mtime = Files.getLastModifiedTime(m)
    GraftCatalog.setTableProperties(dir, Map("codec" -> "gzip",
      "filekind" -> "parquet", "blockbytes" -> "65536"))
    // RENAME id -> key, with `key` an IDENTITY column.
    val renamed = org.apache.spark.sql.types.StructType(
      Seq(identityCol("key", 5L, 2L)))
    val (_, parts, props) = GraftCatalog.readMeta(dir)
    GraftCatalog.overwriteMeta(dir, renamed, parts, props +
      (SchemaEvolution.PropKey -> SchemaEvolution.renderLog(Seq("id" -> "key"))))
    Files.setLastModifiedTime(m, mtime)
    assert(ManifestSink.codecAt(d) == "gzip")
    assert(ManifestSink.filekindAt(d) == "parquet")
    assert(ManifestSink.blockBytesAt(d) == 65536L)
    assert(ManifestSink.identityAt(d) == Some(GraftIdentity.Spec("key", 5L, 2L)))
    assert(SchemaEvolution.currentNamesAt(d) == Map("id" -> "key"))
  }

  test("a malformed _table.json fails the write; a missing one means " +
      "path-table defaults") {
    val dir = tmpDir("r18badmeta")
    val df = Seq((1L, "a")).toDF("id", "v")
    def append(): Unit = df.write.mode("append")
      .format("graft.sources.ManifestSink").option("path", dir).save()
    append()
    assert(ManifestSink.codecAt(dir) == "")
    assert(ManifestSink.filekindAt(dir) == "")
    assert(ManifestSink.blockBytesAt(dir) == ManifestSink.DefaultBlockBytes)
    assert(ManifestSink.identityAt(dir).isEmpty)
    assert(SchemaEvolution.currentNamesAt(dir).isEmpty)
    def files: Set[String] = Files.list(Paths.get(dir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSet
    val before = files
    val gen = ManifestSink.committedGeneration(dir)
    // Unreadable metadata: guessing defaults would write plain NDJSON
    // into what may be a gzip or parquet table.
    Files.write(Paths.get(dir, "_table.json"), "{not json".getBytes("UTF-8"))
    intercept[Exception](append())
    assert(ManifestSink.committedGeneration(dir) == gen)
    assert((files -- before - "_table.json").forall(_.startsWith(".")),
      s"the failed append left ${files -- before}")
    intercept[Exception](ManifestSink.codecAt(dir))
    intercept[Exception](ManifestSink.filekindAt(dir))
    intercept[Exception](ManifestSink.blockBytesAt(dir))
    intercept[Exception](ManifestSink.identityAt(dir))
    intercept[Exception](SchemaEvolution.currentNamesAt(dir))
    // An invalid IDENTITY declaration surfaces instead of reading as
    // "no identity column".
    GraftCatalog.overwriteMeta(Paths.get(dir),
      org.apache.spark.sql.types.StructType(
        Seq(identityCol("a", 1L, 1L), identityCol("b", 1L, 1L))),
      Nil, Map.empty)
    intercept[IllegalArgumentException](ManifestSink.identityAt(dir))
  }

  test("globalRowNumber is exact and small inputs get few buckets") {
    val df = (1 to 1000).map(i => (i.toLong, s"k$i")).toDF("id", "k")
    val ranked = graft.operators.Ranks.globalRowNumber(
      df, "rn", Seq(col("id")))
    // Exactness for any derived bucket count.
    val rows = ranked.select("id", "rn").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1 to 1000).forall(i => rows(i.toLong) == i.toLong))
    // A kB-sized input must not fan out to the session width: the rank
    // output's partition count follows the derived bucket count.
    assert(ranked.rdd.getNumPartitions <= 2,
      s"expected a size-derived bucket count, got ${ranked.rdd.getNumPartitions}")
    graft.Staging.release(spark)
  }

  test("derivedStatePartitions floors small sources and honors width cap") {
    val dir = tmpDir("r18state")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("event_id", "ts", "value")
      .write.parquet(s"$dir/part")
    // Single tiny file behind a glob — derivation must return the floor.
    val schema = spark.read.parquet(s"$dir/part").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/part")
    val got = graft.streaming.Streams.derivedStatePartitions(stream, 4)
    assert(got == 4, s"tiny source must stay at the floor, got $got")
  }
}
