package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

import graft.sources.GraftSparkExtensions

/** The one session factory: what its sessions carry, and that it stays
  * the only place a session is built. The shared test session comes
  * from [[GraftSession]], so `spark` here is a factory session. */
class GraftSessionSpec extends SparkSpec {
  private val sqlFunctions = Seq("cosine_similarity", "simhash64",
    "shingle_hashes", "jaro_winkler", "minhash_band_buckets",
    "minhash_signature")

  test("a factory session resolves table_changes and the six functions with no registration call") {
    assert(GraftSparkExtensions.functions.map(_._1).toSet == sqlFunctions.toSet)
    sqlFunctions.foreach(f => assert(spark.catalog.functionExists(f), f))
    val row = spark.sql(
      """SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)),
        |  simhash64(array(xxhash64('a'))),
        |  size(shingle_hashes('abcdef', 3)),
        |  jaro_winkler('same', 'same'),
        |  size(minhash_band_buckets(array(1L, 2L), 2, 2)),
        |  size(minhash_signature(array(1L, 2L), 4))""".stripMargin).head()
    assert(row.getDouble(0) == 1.0 && row.getLong(1) != 0L &&
      row.getInt(2) == 4 && row.getDouble(3) == 1.0 &&
      row.getInt(4) == 2 && row.getInt(5) == 4, row)

    val dir = Files.createTempDirectory("graft_session_tvf").toString
    spark.range(0, 5).write.format("graft.sources.ManifestSink")
      .option("path", dir).option("retainHistory", "true")
      .mode("append").save()
    assert(spark.sql(s"SELECT count(*) FROM table_changes('$dir', 0)")
      .head.getLong(0) == 5)
  }

  test("the session carries the factory confs") {
    assert(spark.sparkContext.master == "local[4]")
    // A fresh clone starts from the factory's confs, whatever runtime
    // confs earlier suites set on the shared session.
    val conf = spark.newSession().conf
    Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.extensions" -> "graft.sources.GraftSparkExtensions",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true"
    ).foreach { case (k, v) => assert(conf.get(k) == v, k) }
  }

  test("no custom SQL function shadows a Spark built-in") {
    val shadowed = sqlFunctions.filter(f =>
      FunctionRegistry.builtin.functionExists(FunctionIdentifier(f)))
    assert(shadowed.isEmpty, shadowed)
  }

  test("GraftSession.scala holds the only session builder under src/") {
    val src = Paths.get("src")
    assert(Files.isRegularFile(src.resolve("main/scala/graft/GraftSession.scala")),
      s"run from the project root, not ${Paths.get("").toAbsolutePath}")
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val hits = Files.walk(src).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap { p: Path =>
        builder.findAllMatchIn(Files.readString(p)).map(_ => src.relativize(p).toString)
      }.toSeq
    assert(hits == Seq("main/scala/graft/GraftSession.scala"), hits)
  }
}
