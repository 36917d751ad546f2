package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.util.{Failure, Success, Try}

/** Ingestion surface re-expressing the reference's staging layer
  * (`/root/reference/dags/operators/rest_api_json_to_gcs_operator.py`).
  *
  * The reference stages API payloads in two JSON layouts — a single JSON
  * array (`rest_api_json_to_gcs_operator.py:64`) and NDJSON (`:61-62`).
  * NDJSON is Spark's native JSON layout and splits across executors;
  * array-JSON requires `multiLine=true`, which makes each file a single
  * task — fine for small staged blobs, wrong for 100 TB. Prefer NDJSON at
  * scale (the reference's parallel NDJSON branch already hints at this).
  */
object Ingest {

  /** NDJSON (one JSON object per line) — splittable, the scale path. */
  def readNdjson(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** Single-JSON-array layout (`[{...},{...}]`) — one task per file. */
  def readJsonArray(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("multiLine", value = true)
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** Parse an already-fetched JSON payload string (the engine-side analog
    * of the reference's driver-side `json.loads(response.text)`,
    * `rest_api_json_to_gcs_operator.py:60`). The REST fetch itself is
    * driver-side I/O, not a distributed operator; once the payload string
    * exists, distribution starts here. */
  def readJsonString(spark: SparkSession, payload: String): DataFrame = {
    import spark.implicits._
    spark.read.option("multiLine", value = true).json(Seq(payload).toDS())
  }

  /** Driver-side HTTP GET with bounded retry — the analog of the
    * reference's `HttpSensor` + fetch (`dags/users_etl.py:184-196`).
    * Plain JDK HTTP; no Spark involvement by design. */
  def fetchJson(url: String, retries: Int = 1, retryDelayMs: Long = 1000): String = {
    require(retries >= 0, s"retries must be >= 0, got $retries")
    // Explicit timeouts: a server that accepts the connection but never
    // responds must fall through to the retry loop, not hang forever.
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10))
      .build()
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofSeconds(30))
      .GET().build()
    var attempt = 0
    var result: Option[String] = None
    var lastErr: Throwable = new RuntimeException(s"fetchJson($url): no attempt made")
    while (result.isEmpty && attempt <= retries) {
      try {
        val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
        if (resp.statusCode() == 200) result = Some(resp.body())
        else lastErr = new RuntimeException(s"HTTP ${resp.statusCode()} from $url")
      } catch { case scala.util.control.NonFatal(e) => lastErr = e }
      attempt += 1
      if (result.isEmpty && attempt <= retries) Thread.sleep(retryDelayMs)
    }
    result.getOrElse(throw lastErr)
  }

  /** NDJSON writer (A3): `df.write.json` is already NDJSON. */
  def writeNdjson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** NDJSON reader with explicit corrupt-record capture (PERMISSIVE
    * mode): malformed lines land in `_corrupt_record` instead of
    * poisoning the load — at crawl scale some fraction of staged JSON is
    * always broken, and dropping it silently (or failing the whole job)
    * are both wrong. Callers split on `_corrupt_record IS NULL` to route
    * good rows forward and quarantine the rest. */
  def readNdjsonPermissive(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField}
    val withCorrupt = StructType(schema.fields :+
      StructField("_corrupt_record", StringType, nullable = true))
    spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  /** CSV round-trip (header + explicit schema on read — never infer in
    * production: inference is a full extra pass over the data). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** ORC round-trip (columnar alternative to parquet; same pushdown and
    * pruning properties through the DSv2 scan). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Structural diff between two batch schemas: (added, removed, retyped)
    * top-level columns — the guardrail against the reference's
    * dynamic-schema hazard (INSERT column lists generated from the first
    * row's dict keys, `dags/users_etl.py:143`): run the diff between
    * yesterday's and today's staged batch BEFORE loading, and gate the
    * load on an empty-or-approved report. Nested structs compare by full
    * dataType, so a nested change reports as a retype of its root. */
  def schemaDiff(before: StructType, after: StructType): SchemaDiff = {
    val b = before.fields.map(f => f.name -> f.dataType).toMap
    val a = after.fields.map(f => f.name -> f.dataType).toMap
    SchemaDiff(
      added = a.keySet.diff(b.keySet).toSeq.sorted,
      removed = b.keySet.diff(a.keySet).toSeq.sorted,
      retyped = a.keySet.intersect(b.keySet).toSeq.sorted
        .filter(k => a(k) != b(k))
        .map(k => (k, b(k).simpleString, a(k).simpleString)))
  }

  /** Result of [[schemaDiff]]; `isCompatible` = nothing removed or
    * retyped (pure additions are the only change a downstream consumer
    * survives without code changes — mergeSchema handles them). */
  final case class SchemaDiff(
      added: Seq[String], removed: Seq[String],
      retyped: Seq[(String, String, String)]) {
    def isCompatible: Boolean = removed.isEmpty && retyped.isEmpty
    def isEmpty: Boolean = isCompatible && added.isEmpty
  }

  /** Full-refresh parquet load — the engine's idempotent analog of the
    * reference's DELETE-then-INSERT (`dags/users_etl.py:206-214,142-155`):
    * an atomic overwrite via the output committer replaces truncate+insert. */
  def writeParquetOverwrite(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Single-JSON-array writer (A2, `rest_api_json_to_gcs_operator.py:64`).
    * The reference builds the whole array blob in worker memory and
    * uploads it as one object; this mirrors that shape (driver-side
    * collect), which is only sane for small staged payloads — hence the
    * row cap. At scale use [[writeNdjson]]: splittable on read, parallel
    * on write (the reference's own NDJSON branch is the scale hint). */
  def writeJsonArray(df: DataFrame, path: String, maxRows: Long = 1000000L): Unit = {
    // Single bounded job: take cap+1 and fail on overflow, instead of a
    // separate count() pass followed by an unbounded collect().
    val rows = df.toJSON.take(math.min(maxRows, Int.MaxValue - 1).toInt + 1)
    require(rows.length <= maxRows,
      s"writeJsonArray is a driver-side collect (> cap $maxRows rows); use writeNdjson at scale")
    val blob = rows.mkString("[", ",", "]")
    // The target directory may not exist yet; no reader sees a
    // half-written array.
    val target = java.nio.file.Paths.get(path).toAbsolutePath
    java.nio.file.Files.createDirectories(target.getParent)
    Publish.replace(target)(java.nio.file.Files.write(_,
      blob.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  /** JDBC batch sink (A6, `dags/users_etl.py:142-155`): full-refresh via
    * `truncate` + overwrite, batched inserts executor-side. Exercised
    * against embedded Derby in IngestSpec (round-trip + truncate
    * refresh); a networked Postgres differs only in URL/driver. */
  def writeJdbc(df: DataFrame, url: String, table: String,
      props: java.util.Properties = new java.util.Properties()): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("truncate", value = true)
      .jdbc(url, table, props)

  /** Bucketed table write: co-locates rows by `key` into `numBuckets`
    * per-bucket files registered in the session catalog. Two tables
    * bucketed the same way join WITHOUT a shuffle (both sides'
    * `outputPartitioning` already satisfies the join's distribution) —
    * the standard trade for fact-to-fact joins repeated at 100 TB:
    * pay one shuffle at write time, skip it on every subsequent join.
    * Requires `saveAsTable` (bucket metadata lives in the catalog). */
  def writeBucketed(df: DataFrame, table: String, key: String, numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** XML sink (Spark 4 built-in XML source; one row element per record).
    * Rounds out the format surface next to JSON/CSV/ORC/parquet — XML is
    * the interchange format of the legacy feeds a migration off the
    * reference stack typically still has to read. */
  def writeXml(df: DataFrame, path: String, rowTag: String = "row"): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("rowTag", rowTag).format("xml").save(path)

  def readXml(spark: SparkSession, path: String, schema: StructType,
      rowTag: String = "row"): DataFrame =
    spark.read.option("rowTag", rowTag).schema(schema).format("xml").load(path)

  /** Hive-style partitioned layout (`path/col=value/…`) — the 100 TB
    * scan discipline: a filter on a partition column prunes directories
    * at PLANNING time (`PartitionFilters` on the scan node), so
    * unmatched data is never listed, let alone read. Partition by
    * low-cardinality columns queries filter on (date, type, tenant);
    * high-cardinality keys belong in [[writeBucketed]] instead (a
    * directory per value would melt the file listing). */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)

  /** Small-file compaction: rewrite a parquet directory whose file count
    * has drifted (streaming sinks, incremental upserts, partition
    * appends) into ~`targetFileBytes`-sized files. THE recurring ops
    * task at scale — a 100 TB table accreting thousands of KB-sized
    * files melts both the driver's file listing and scan task scheduling.
    * File count derives from the current on-disk bytes; the rewrite goes
    * through a staging directory and an atomic rename (same reader-safe
    * swap as `Streams.upsertInto`). Returns (filesBefore, filesAfter).
    *
    * Table formats with native compaction (Delta OPTIMIZE, Iceberg
    * rewrite_data_files) replace this at the catalog layer; the plan
    * shape — full read, repartition to size, atomic swap — is the same. */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val dir = new java.io.File(path)
    def parquetFiles = dir.listFiles().filter(f =>
      f.isFile && f.getName.endsWith(".parquet"))
    val before = parquetFiles
    val totalBytes = before.map(_.length).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val staged = spark.read.parquet(path).repartition(nFiles)
    val staging = path + ".compacting"
    staged.write.mode(SaveMode.Overwrite).parquet(staging)
    Publish.swapDir(java.nio.file.Paths.get(staging), dir.toPath)
    (before.length, parquetFiles.length)
  }

  /** Runs independent actions at once and returns their results in
    * argument order. Each thunk after the first runs on a fresh thread,
    * which inherits the caller's SparkContext local properties (job group,
    * description, scheduler pool) and active session, so
    * `cancelJobGroup` still reaches every branch. The first failure, in
    * argument order, is rethrown only after every branch has finished:
    * no branch outlives the call. */
  private[graft] def concurrently[A](thunks: (() => A)*): Seq[A] = {
    def attempt(t: () => A): Try[A] =
      try Success(t()) catch { case e: Throwable => Failure(e) }
    val outcomes = new Array[Try[A]](thunks.size)
    val branches = thunks.zipWithIndex.drop(1).map { case (t, i) =>
      val th = new Thread(() => outcomes(i) = attempt(t), s"graft-concurrently-$i")
      th.start()
      th
    }
    if (thunks.nonEmpty) outcomes(0) = attempt(thunks.head)
    var interrupted = false
    branches.foreach { th =>
      while (th.isAlive) try th.join() catch {
        case _: InterruptedException => interrupted = true
      }
    }
    if (interrupted) Thread.currentThread().interrupt()
    outcomes.toSeq.map(_.get)
  }

  /** Multi-table star load with FK write-order discipline (O4,
    * `dags/users_etl.py:140-159`): the parents (addresses, companies) are
    * written concurrently, and both are committed before the child
    * (users) is written; each table is an atomic overwrite. Spark has no
    * cross-table transaction — write order + per-table committer
    * atomicity is the honest mapping (documented semantic gap vs the
    * reference's single Postgres commit). */
  def writeStar(users: DataFrame, addresses: DataFrame, companies: DataFrame,
      baseDir: String): Unit = {
    concurrently(
      () => writeParquetOverwrite(addresses, s"$baseDir/addresses.parquet"),
      () => writeParquetOverwrite(companies, s"$baseDir/companies.parquet"))
    writeParquetOverwrite(users, s"$baseDir/users.parquet")
  }

  // --- snapshot-versioned multi-table commit -----------------------------

  private def pointerFile(baseDir: String) =
    java.nio.file.Paths.get(baseDir, "_current")

  /** Version the `_current` pointer names, or 0 before the first commit. */
  def currentVersion(baseDir: String): Long = {
    val p = pointerFile(baseDir)
    if (java.nio.file.Files.exists(p))
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toLong
    else 0L
  }

  /** TRUE all-or-nothing multi-table load — the cross-table transaction
    * [[writeStar]]'s write-order discipline documents as a gap
    * (`dags/users_etl.py:140-159` runs one Postgres commit across three
    * tables). Storage has no transactions, so the commit is moved to a
    * single atomic POINTER swap, the same idea a table format's catalog
    * commit implements: every table of snapshot N+1 is fully written
    * under `baseDir/vN+1/` while readers keep resolving `_current` → vN;
    * the one mutation readers can observe is an atomic rename of the new
    * pointer, after which EVERY table reads at N+1. A failure anywhere
    * before the swap leaves `_current` untouched — no reader ever sees a
    * torn cross-table state, and the orphaned staging dir is re-created
    * on retry. Single-writer by design (concurrent committers need a
    * conditional swap — a catalog CAS or object-store if-match PUT — the
    * documented next step this local-fs analog stands in for).
    * Returns the committed version. */
  def commitSnapshot(tables: Map[String, DataFrame], baseDir: String): Long = {
    require(tables.nonEmpty, "empty snapshot")
    new java.io.File(baseDir).mkdirs()
    val next = currentVersion(baseDir) + 1
    val vdir = s"$baseDir/v$next"
    // Fresh staging dir per attempt: a crashed attempt's leftovers are
    // overwritten, never promoted.
    tables.foreach { case (name, df) =>
      df.write.mode(SaveMode.Overwrite).parquet(s"$vdir/$name.parquet")
    }
    // The commit point. Everything before this line is invisible to
    // readers; everything after is fully visible.
    Publish.replace(pointerFile(baseDir))(
      java.nio.file.Files.write(_, next.toString.getBytes("UTF-8")))
    next
  }

  /** Read `table` at the CURRENT committed snapshot. The version is
    * resolved once at plan time — a concurrent [[commitSnapshot]] never
    * retargets an already-built plan (old snapshot dirs stay on disk
    * until [[vacuumSnapshots]]). */
  def readSnapshot(spark: SparkSession, baseDir: String,
      table: String): DataFrame = {
    val v = currentVersion(baseDir)
    require(v > 0, s"no committed snapshot under $baseDir")
    spark.read.parquet(s"$baseDir/v$v/$table.parquet")
  }

  /** Drop snapshot dirs older than the newest `keep` (in-flight readers
    * of retained versions are unaffected; this is the GC half of the
    * pointer-swap contract). */
  def vacuumSnapshots(baseDir: String, keep: Int = 2): Seq[Long] = {
    // keep = 0 would drop the version `_current` names.
    require(keep >= 1, s"keep must be at least 1: $keep")
    val cur = currentVersion(baseDir)
    val versions = Option(new java.io.File(baseDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(_.getName.drop(1).toLong).sorted
    val drop = versions.filter(v => v <= cur - keep)
    drop.foreach { v =>
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$baseDir/v$v"))
    }
    drop
  }
}
