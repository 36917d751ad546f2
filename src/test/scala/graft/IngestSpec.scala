package graft

import graft.operators.{Flatten, RefPipeline}
import graft.sources.Ingest
import java.nio.file.Files

/** Ingestion layer (SURVEY §2.A): both JSON layouts round-trip, the
  * payload-string path parses nested records, and the star load writes
  * parents before children. */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  // jsonplaceholder-shaped nested user payload (array layout).
  private val payload =
    """[{"id": 1, "name": "Ann", "username": "ann", "email": "ann@x.com",
      |  "address": {"street": "Main St", "suite": "Apt 1", "city": "Springfield",
      |    "zipcode": "11111", "geo": {"lat": "1.5", "lng": "-2.5"}},
      |  "phone": "1", "website": "a.com",
      |  "company": {"name": "Acme", "catchPhrase": "do", "bs": "syn"}},
      | {"id": 2, "name": "Bob", "username": "bob", "email": "bob@x.com",
      |  "address": {"street": "Elm St", "suite": "Apt 2", "city": "Shelbyville",
      |    "zipcode": "22222", "geo": {"lat": "3.5", "lng": "4.5"}},
      |  "phone": "2", "website": "b.com",
      |  "company": {"name": "Acme", "catchPhrase": "do", "bs": "syn"}}]""".stripMargin

  test("readJsonString parses nested array payload; flatten yields leaf columns") {
    val df = Ingest.readJsonString(spark, payload)
    assert(df.count() == 2)
    val flat = Flatten.flatten(df)
    assert(flat.columns.contains("address_geo_lat"))
    assert(flat.columns.contains("company_catchPhrase"))
  }

  test("NDJSON and array-JSON layouts round-trip with equal content") {
    val dir = Files.createTempDirectory("graft_ingest").toFile.getAbsolutePath
    val df = Ingest.readJsonString(spark, payload).select("id", "email")
    Ingest.writeNdjson(df, s"$dir/nd")
    Ingest.writeJsonArray(df, s"$dir/arr.json")
    val nd = Ingest.readNdjson(spark, s"$dir/nd")
    val arr = Ingest.readJsonArray(spark, s"$dir/arr.json")
    assert(nd.select("id", "email").as[(Long, String)].collect().toSet ==
      arr.select("id", "email").as[(Long, String)].collect().toSet)
  }

  test("writeJsonArray enforces the driver-side row cap") {
    val df = spark.range(10).toDF("id")
    intercept[IllegalArgumentException] {
      Ingest.writeJsonArray(df, "/tmp/graft_never_written.json", maxRows = 5)
    }
  }

  test("writeJsonArray creates missing parent directories and leaves no temp file") {
    val fresh = Files.createTempDirectory("graft_arr").toFile.getAbsolutePath
    Ingest.writeJsonArray(spark.range(3).toDF("id"), s"$fresh/nested/arr.json")
    assert(Ingest.readJsonArray(spark, s"$fresh/nested/arr.json")
      .as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
    assert(new java.io.File(s"$fresh/nested").list().toSeq == Seq("arr.json"))
  }

  test("concurrently: results in argument order; first failure after every branch") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    // The first thunk runs on the caller and finishes only once the last
    // one has run, so the branches overlap; results keep argument order.
    val last = new CountDownLatch(1)
    assert(Ingest.concurrently(
      () => { assert(last.await(60, TimeUnit.SECONDS)); "a" },
      () => "b",
      () => { last.countDown(); "c" }) == Seq("a", "b", "c"))

    // The first failure in argument order wins, and it surfaces only after
    // the slower sibling has completed.
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val slowStarted = new CountDownLatch(1)
    val err = intercept[IllegalStateException] {
      Ingest.concurrently(
        () => {
          assert(slowStarted.await(60, TimeUnit.SECONDS))
          throw new IllegalStateException("first")
        },
        () => { slowStarted.countDown(); Thread.sleep(300); slowDone.set(true) },
        () => throw new IllegalArgumentException("second"))
    }
    assert(err.getMessage == "first")
    assert(slowDone.get)
  }

  test("writeJdbc round-trips through embedded Derby and truncate-overwrites") {
    // Derby ships with Spark (the Hive metastore's store), so the JDBC
    // sink is testable offline: write → read back → overwrite with
    // truncate=true (full-refresh semantics, A6) → read again.
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val df = Seq((1L, "ann"), (2L, "bob")).toDF("id", "name")
    Ingest.writeJdbc(df, url, "users")
    val back = spark.read.jdbc(url, "users", new java.util.Properties())
    assert(back.as[(Long, String)].collect().toSet == Set((1L, "ann"), (2L, "bob")))
    val df2 = Seq((3L, "cat")).toDF("id", "name")
    Ingest.writeJdbc(df2, url, "users")
    val back2 = spark.read.jdbc(url, "users", new java.util.Properties())
    assert(back2.as[(Long, String)].collect().toSet == Set((3L, "cat")))
  }

  test("bucketed tables join without a shuffle") {
    import org.apache.spark.sql.functions.col
    val a = (1 to 100).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 100).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
    Ingest.writeBucketed(a, "graft_bucketed_a", "k", 4)
    Ingest.writeBucketed(b, "graft_bucketed_b", "k", 4)
    // Force a non-broadcast join so the assertion proves bucketing (a
    // broadcast join is shuffle-free for the wrong reason).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_bucketed_a")
        .join(spark.table("graft_bucketed_b"), "k")
      assert(joined.count() == 100)
      // Co-located buckets satisfy the join's required distribution: no
      // shuffle exchange anywhere in the physical plan.
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_b")
    }
  }

  test("partitioned write prunes partitions at planning time") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_part").toString
    val df = Seq((1L, "click"), (2L, "view"), (3L, "click"), (4L, "purchase"))
      .toDF("id", "etype")
    Ingest.writePartitioned(df, s"$dir/t", "etype")
    val back = spark.read.parquet(s"$dir/t").where(col("etype") === "click")
    assert(back.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // The filter must land in PartitionFilters (directory pruning), NOT
    // as a post-scan data filter — at 100 TB that is the difference
    // between listing one partition and scanning the table.
    val scans = back.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, back.queryExecution.executedPlan.toString)
    assert(scans.head.metadata("PartitionFilters").contains("etype"),
      scans.head.metadata.toString)
    // The scan's file count (post-pruning) is strictly below the table's:
    // only the click partition's files were selected.
    val allFiles = spark.read.parquet(s"$dir/t").inputFiles.length
    assert(scans.head.metrics("numFiles").value < allFiles,
      s"scanned ${scans.head.metrics("numFiles").value} of $allFiles files")
  }

  test("dynamic partition overwrite replaces only the touched partitions") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_dyn").toString
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      // The incremental-load discipline at 100 TB: a day's re-run must
      // replace that day's partition atomically and leave every other
      // partition untouched (static mode would truncate the table).
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      val day1 = Seq((1L, "2024-01-01"), (2L, "2024-01-02")).toDF("id", "day")
      day1.write.partitionBy("day").parquet(s"$dir/t")
      val rerun = Seq((20L, "2024-01-02")).toDF("id", "day")
      rerun.write.mode("overwrite").partitionBy("day").parquet(s"$dir/t")
      val back = spark.read.parquet(s"$dir/t")
        .select("id", "day").as[(Long, String)].collect().toSet
      assert(back == Set((1L, "2024-01-01"), (20L, "2024-01-02")))
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }

  test("mergeSchema unions evolving parquet schemas across batches") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_evolve").toString
    Seq((1L, "a")).toDF("id", "v1").write.parquet(s"$dir/t/batch=1")
    Seq((2L, 9.5)).toDF("id", "v2").write.parquet(s"$dir/t/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/t")
    assert(merged.columns.toSet == Set("id", "v1", "v2", "batch"))
    val rows = merged.select("id", "v1", "v2").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toSet
    assert(rows == Set((1L, Some("a"), None), (2L, None, Some(9.5))))
  }

  test("maxRecordsPerFile bounds output file sizes") {
    val dir = Files.createTempDirectory("graft_maxrec").toString
    spark.range(100).toDF("id").coalesce(1)
      .write.option("maxRecordsPerFile", 30).parquet(s"$dir/t")
    val files = spark.read.parquet(s"$dir/t").inputFiles
    assert(files.length == 4, files.mkString(",")) // 30+30+30+10
    assert(spark.read.parquet(s"$dir/t").count() == 100)
  }

  test("catalog DDL (A9): CREATE TABLE / INSERT / CTAS / DROP") {
    spark.sql("DROP TABLE IF EXISTS graft_ddl_demo")
    spark.sql("DROP TABLE IF EXISTS graft_ddl_ctas")
    try {
      spark.sql("CREATE TABLE graft_ddl_demo (k BIGINT, v STRING) USING parquet")
      spark.sql("INSERT INTO graft_ddl_demo VALUES (1, 'a'), (2, 'b')")
      assert(spark.table("graft_ddl_demo").count() == 2)
      spark.sql(
        "CREATE TABLE graft_ddl_ctas USING parquet AS " +
          "SELECT k, upper(v) AS v FROM graft_ddl_demo")
      assert(spark.table("graft_ddl_ctas").orderBy("k")
        .collect().map(_.getString(1)).toSeq == Seq("A", "B"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_ddl_demo")
      spark.sql("DROP TABLE IF EXISTS graft_ddl_ctas")
    }
    assert(!spark.catalog.tableExists("graft_ddl_demo"))
  }

  test("CSV and ORC round-trip with explicit schemas") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_fmt").toString
    val df = Seq((1L, "x", 1.5), (2L, "y", -2.0)).toDF("id", "s", "v")
    Ingest.writeCsv(df, s"$dir/csv")
    Ingest.writeOrc(df, s"$dir/orc")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("v", DoubleType)))
    val csv = Ingest.readCsv(spark, s"$dir/csv", schema)
    val orc = Ingest.readOrc(spark, s"$dir/orc")
    assert(csv.collect().toSet == df.collect().toSet)
    assert(orc.collect().toSet == df.collect().toSet)
  }

  test("XML round-trips with explicit schema (built-in Spark 4 source)") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_xml").toString
    val df = Seq((1L, "a&b <c>", 1.5), (2L, "plain", -2.0))
      .toDF("id", "name", "score")
    Ingest.writeXml(df, s"$dir/t", rowTag = "rec")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("score", DoubleType)))
    val back = Ingest.readXml(spark, s"$dir/t", schema, rowTag = "rec")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    // Entity escaping must survive the round trip.
    assert(back == Seq((1L, "a&b <c>", 1.5), (2L, "plain", -2.0)))
  }

  test("permissive NDJSON read quarantines corrupt lines instead of failing") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_corrupt").toString
    Files.write(java.nio.file.Paths.get(s"$dir/data.json"),
      """{"id": 1, "name": "ok"}
        |{"id": 2 "name": "broken json
        |{"id": 3, "name": "also ok"}""".stripMargin.getBytes)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    // Spark disallows querying ONLY the corrupt-record column straight
    // off a raw file scan; materialize the parse first (cache), as the
    // quarantine split would in production.
    val df = Ingest.readNdjsonPermissive(spark, s"$dir/data.json", schema).cache()
    try {
      val good = df.where(col("_corrupt_record").isNull)
      val bad = df.where(col("_corrupt_record").isNotNull)
      assert(good.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
      assert(bad.count() == 1)
    } finally df.unpersist()
  }

  test("parquet aggregate pushdown answers MIN/MAX/COUNT from footer stats") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_aggpush").toString
    spark.range(0, 10000).selectExpr("id", "id * 2 AS v")
      .write.mode("overwrite").parquet(s"$dir/t")
    // Aggregate pushdown is a DSv2 capability — route parquet through
    // the v2 reader for this test (the session default keeps v1).
    val confs = Seq("spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.sources.useV1SourceList" -> "")
    val prevs = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // No row-group decode at all: the scan node carries the pushed
      // aggregation and reads only footer statistics — the difference
      // between touching 100 TB and touching its metadata.
      val agg = spark.read.parquet(s"$dir/t")
        .agg(max(col("id")).as("mx"), min(col("id")).as("mn"),
          count(lit(1)).as("n"))
      val row = agg.collect()(0)
      assert((row.getLong(0), row.getLong(1), row.getLong(2)) ==
        ((9999L, 0L, 10000L)))
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation: [MAX(id), MIN(id), COUNT(*)]"),
        s"aggregation not pushed:\n$plan")
    } finally prevs.foreach {
      case (k, Some(p)) => spark.conf.set(k, p)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("nested schema pruning reads only the referenced struct leaf") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_nested").toString
    Seq((1L, ("x", 10.0, Seq(1, 2))), (2L, ("y", 20.0, Seq(3))))
      .toDF("id", "s").write.mode("overwrite").parquet(s"$dir/t")
    val q = spark.read.parquet(s"$dir/t").select(col("id"), col("s._1").as("a"))
    assert(q.collect().map(_.getString(1)).sorted.toSeq == Seq("x", "y"))
    val scanSchema = q.queryExecution.executedPlan.toString
    // ReadSchema keeps only s._1 — the sibling leaves (_2 double, _3
    // array) never leave the parquet column chunks.
    assert(scanSchema.contains("s:struct<_1:string>"),
      s"nested pruning missing:\n$scanSchema")
  }

  test("compact collapses a small-file swarm, preserving rows and content") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    // 64 one-row-group files — the streaming-sink accretion shape.
    spark.range(0, 6400).select(col("id"), (col("id") * 3).as("v"))
      .repartition(64).write.parquet(dir)
    val checksumBefore = spark.read.parquet(dir)
      .agg(sum(col("id") * col("v"))).head().getLong(0)
    val (before, after) = Ingest.compact(spark, dir, targetFileBytes = 512L * 1024)
    assert(before == 64)
    assert(after < 8, s"expected <8 files after compaction, got $after")
    val back = spark.read.parquet(dir)
    assert(back.count() == 6400)
    assert(back.agg(sum(col("id") * col("v"))).head().getLong(0) == checksumBefore)
    Seq(".old", ".compacting").foreach(suffix =>
      assert(!Files.exists(java.nio.file.Paths.get(dir + suffix)), s"$dir$suffix left behind"))
  }

  test("compact refuses a zero target file size and leaves the table as it was") {
    val dir = Files.createTempDirectory("graft_compact0").toString + "/t"
    spark.range(0, 100).repartition(4).write.parquet(dir)
    def files = new java.io.File(dir).list().toSet
    val before = files
    intercept[IllegalArgumentException](Ingest.compact(spark, dir, targetFileBytes = 0L))
    assert(files == before)
    assert(!Files.exists(java.nio.file.Paths.get(dir + ".compacting")))
    assert(spark.read.parquet(dir).count() == 100)
  }

  test("writeStar end-to-end: normalize -> load -> integrity holds on reload") {
    val dir = Files.createTempDirectory("graft_star").toFile.getAbsolutePath
    val raw = Ingest.readJsonString(spark, payload)
    val (users, addresses, companies) = RefPipeline.normalizeUsers(raw)
    Ingest.writeStar(users, addresses, companies, dir)
    val u = spark.read.parquet(s"$dir/users.parquet")
    val a = spark.read.parquet(s"$dir/addresses.parquet")
    val c = spark.read.parquet(s"$dir/companies.parquet")
    assert(u.count() == 2 && a.count() == 2 && c.count() == 1)
    assert(graft.operators.Relational.fkOrphans(u, "address_uuid", a, "uuid").count() == 0)
    assert(graft.operators.Relational.fkOrphans(u, "company_uuid", c, "uuid").count() == 0)
  }

  test("commitSnapshot: all-or-nothing multi-table commit via pointer swap") {
    val dir = Files.createTempDirectory("graft_snap").toFile.getAbsolutePath
    val raw = Ingest.readJsonString(spark, payload)
    val (users, addresses, companies) = RefPipeline.normalizeUsers(raw)
    // v1: clean commit of the star.
    assert(Ingest.commitSnapshot(Map(
      "addresses" -> addresses, "companies" -> companies,
      "users" -> users), dir) == 1L)
    assert(Ingest.currentVersion(dir) == 1L)
    assert(Ingest.readSnapshot(spark, dir, "users").count() == 2)
    // v2 attempt that fails mid-write (the LAST table's job throws after
    // the first two already landed in the staging dir): the pointer must
    // be untouched and every table must still read at v1 — no torn
    // cross-table state, the exact failure writeStar's write-order
    // discipline cannot mask.
    val poisoned = users.withColumn("boom",
      org.apache.spark.sql.functions.expr("assert_true(cast(id as long) < 0)"))
    intercept[Exception] {
      Ingest.commitSnapshot(Map(
        "addresses" -> addresses, "companies" -> companies,
        "users" -> poisoned), dir)
    }
    assert(Ingest.currentVersion(dir) == 1L)
    Seq("users", "addresses", "companies").foreach { t =>
      assert(Ingest.readSnapshot(spark, dir, t).count() > 0)
    }
    // Retry succeeds: version 2 everywhere, new data visible atomically.
    val users2 = users.withColumn("reloaded",
      org.apache.spark.sql.functions.lit(true))
    assert(Ingest.commitSnapshot(Map(
      "addresses" -> addresses, "companies" -> companies,
      "users" -> users2), dir) == 2L)
    assert(Ingest.readSnapshot(spark, dir, "users")
      .columns.contains("reloaded"))
    // Vacuum keeps the newest snapshot only; v1 is collected.
    assert(Ingest.vacuumSnapshots(dir, keep = 1) == Seq(1L))
    assert(!new java.io.File(s"$dir/v1").exists())
    assert(Ingest.readSnapshot(spark, dir, "users").count() == 2)
  }

  test("vacuumSnapshots refuses keep = 0, which would drop the current snapshot") {
    val dir = Files.createTempDirectory("graft_snap0").toFile.getAbsolutePath
    val (users, _, _) = RefPipeline.normalizeUsers(Ingest.readJsonString(spark, payload))
    assert(Ingest.commitSnapshot(Map("users" -> users), dir) == 1L)
    intercept[IllegalArgumentException](Ingest.vacuumSnapshots(dir, keep = 0))
    assert(Ingest.readSnapshot(spark, dir, "users").count() == 2)
  }

  test("schemaDiff: added/removed/retyped columns; compatibility gate") {
    import org.apache.spark.sql.types._
    val before = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val after = StructType(Seq(
      StructField("id", LongType), StructField("name", LongType),
      StructField("tags", StringType)))
    val d = Ingest.schemaDiff(before, after)
    assert(d.added == Seq("tags"))
    assert(d.removed == Seq("score"))
    assert(d.retyped == Seq(("name", "string", "bigint")))
    assert(!d.isCompatible)
    // Pure addition is the only compatible drift.
    val addOnly = Ingest.schemaDiff(before,
      StructType(before.fields :+ StructField("extra", StringType)))
    assert(addOnly.isCompatible && addOnly.added == Seq("extra"))
    assert(Ingest.schemaDiff(before, before).isEmpty)
  }

  test("PagedApiSource: one partition per page, pruning reaches the reader") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("graft.sources.PagedApiSource")
      .option("pages", 7).option("pageSize", 5).load()
    // Partition planning: the parallelism unit is the page.
    assert(df.rdd.getNumPartitions == 7)
    assert(df.count() == 35)
    // Column pruning is a physical-plan fact: the BatchScan's output must
    // shrink to the projection, proving SupportsPushDownRequiredColumns
    // fired (a REST-style source that fetches all fields and prunes
    // later would scan the full struct here).
    val pruned = df.select("category")
    val scanCols = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.output.map(_.name)
    }
    assert(scanCols == Seq(Seq("category")),
      s"projection did not reach the reader: $scanCols")
    // Determinism contract: record i is a pure function of i.
    val r = df.where(col("id") === 13L).head()
    assert(r.getLong(1) == 13L % 97 && r.getLong(2) == (13L * 31 + 7) % 1000
      && r.getString(3) == "blog")
    // Empty projection (count-star shape) still yields full cardinality.
    assert(df.select(lit(1)).count() == 35)
  }

  test("PagedApiSource: id-range filters prune whole pages at plan time") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("graft.sources.PagedApiSource")
      .option("pages", 40).option("pageSize", 250).load()
    def partitionsOf(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.head
    // id < 500 covers exactly pages 0-1 of 40: 38 pages never planned
    // (the paginated-API analog of partition pruning — those pages are
    // never "fetched" at all).
    val pruned = df.where(col("id") < 500)
    assert(partitionsOf(pruned) == 2, "expected 2 surviving pages")
    assert(pruned.count() == 500)
    // Pruning is an optimization, not a correctness dependency: the
    // filter is also residual, so row-level semantics hold inside the
    // surviving pages too.
    val mid = df.where(col("id") >= 100 && col("id") <= 260)
    assert(partitionsOf(mid) == 2 && mid.count() == 161)
    // Unpushable predicates plan every page and still filter correctly.
    val byScore = df.where(col("score") === 7L)
    assert(partitionsOf(byScore) == 40)
    assert(byScore.count() == df.select("score").where(col("score") === 7L).count())
  }

  test("PagedApiSource reports statistics: hint-free broadcast, SQL catalog") {
    import org.apache.spark.sql.functions._
    // SupportsReportStatistics: a pruned 500-row slice reports ~KB
    // sizeInBytes, so Catalyst picks a broadcast hash join against the
    // big side with NO hint — the optimizer integration that separates
    // a source from a dump.
    val api = spark.read.format("graft.sources.PagedApiSource")
      .option("pages", 40).option("pageSize", 250).load()
      .where(col("id") < 500)
      .select(col("id"), col("category"))
    val big = Tables.lineitem(spark, "/root/testdata/sf0.01")
    val joined = big.join(api, big("l_orderkey") === api("id"))
    // The join sits under AdaptiveSparkPlanExec (not a child for
    // collect()), so assert on the rendered plan.
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"reported stats did not trigger a hint-free broadcast:\n$plan")
    // The SQL catalog front door: CREATE TABLE ... USING <provider>.
    spark.sql(
      """CREATE OR REPLACE TABLE paged_api_sql
        |USING graft.sources.PagedApiSource
        |OPTIONS (pages 3, pageSize 4)""".stripMargin)
    try {
      val n = spark.sql("SELECT count(*) FROM paged_api_sql").head().getLong(0)
      assert(n == 12, s"SQL-created table returned $n rows")
    } finally spark.sql("DROP TABLE IF EXISTS paged_api_sql")
  }

  test("PagedApiSource join pruning: static In/Or and runtime DPP filters") {
    import org.apache.spark.sql.functions._
    val api = spark.read.format("graft.sources.PagedApiSource")
      .option("pages", 40).option("pageSize", 250).load()
    def apiPartitions(df: org.apache.spark.sql.DataFrame): Seq[Int] = {
      df.collect() // materialize so AQE finalizes and DPP subqueries run
      def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[Int] =
        p.collect {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scans(q.plan)
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            Seq(b.inputRDD.getNumPartitions)
        }.flatten
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case p => scans(p)
      }
    }
    // Statically-known join keys: Catalyst's constraint propagation
    // plants (id=260 OR id=9600) on the scan side; the builder's
    // In/Or-of-equals pushdown prunes 40 pages to the 2 holding them.
    val dimA = spark.range(0, 10000).toDF("k")
      .where(col("k") === 260L || col("k") === 9600L)
    assert(apiPartitions(api.join(dimA, api("id") === dimA("k"))) == Seq(2),
      "static In/Or pushdown did not prune to 2 pages")
    // Keys NOT statically known (parquet dim filtered on ANOTHER
    // column): only SupportsRuntimeFiltering can prune — Spark pushes
    // the broadcast dim's id values into the scan at execution time
    // (dynamic partition pruning for a V2 source). Customer keys are
    // <= 1500, so only the first 6 of 40 pages survive.
    val dimB = Tables.customer(spark, "/root/testdata/sf0.01")
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
    val joinedB = api.join(dimB, api("id") === dimB("k"))
    assert(apiPartitions(joinedB) == Seq(6),
      s"runtime filter did not prune pages:\n${joinedB.queryExecution.executedPlan}")
  }

  test("ManifestSink: V2 committer protocol — atomic publish, append, truncate") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_manifest_sink").toString
    val df1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag")
      .repartition(2)
    df1.write.format("graft.sources.ManifestSink")
      .option("path", dir).mode("append").save()
    // Readers resolve the manifest: counts and content match the write,
    // and nothing staged survives the publish.
    assert(graft.sources.ManifestSink.committedRowCount(dir) == 3)
    val files1 = graft.sources.ManifestSink.committedFiles(dir)
    assert(files1.size == 2, s"expected 2 part files, got $files1")
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith(".staging")),
      "staging directory leaked past commit")
    def readBack(): Set[(Long, String)] = {
      val paths = graft.sources.ManifestSink.committedFiles(dir)
        .map(n => s"$dir/$n")
      spark.read.json(paths: _*)
        .select(col("id").cast("long"), col("tag"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    }
    assert(readBack() == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // APPEND composes with prior commits in the manifest.
    Seq((4L, "d")).toDF("id", "tag").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", dir).mode("append").save()
    assert(graft.sources.ManifestSink.committedRowCount(dir) == 4)
    assert(readBack() == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // OVERWRITE (SupportsTruncate) atomically replaces the whole table:
    // one manifest swap publishes the new files and retires the old.
    Seq((9L, "z")).toDF("id", "tag").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", dir).mode("overwrite").save()
    assert(graft.sources.ManifestSink.committedRowCount(dir) == 1)
    assert(readBack() == Set((9L, "z")))
    // Retired data files are gone from disk too.
    val ndjson = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".ndjson"))
    assert(ndjson == 1, s"expected 1 surviving part file, found $ndjson")
  }

  test("ManifestSink read path: committed files only, control chars intact, columns pruned") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_manifest_read").toString
    // Strings with embedded newline/tab/quote/backslash: the exact
    // payload class the escaping fix exists for.
    val rows = Seq((1L, "plain"), (2L, "two\nlines"), (3L, "tab\tquote\"back\\"))
    rows.toDF("id", "t").coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", dir).mode("append").save()
    // An orphan .ndjson dropped beside the committed files (a staged
    // file a crashed job never published) must be INVISIBLE to the scan:
    // the manifest, not the directory listing, is the read barrier.
    Files.write(java.nio.file.Paths.get(dir, "part-orphan.ndjson"),
      "{\"id\":99,\"t\":\"never committed\"}\n".getBytes("UTF-8"))
    val sch = StructType(Seq(StructField("id", LongType), StructField("t", StringType)))
    val table = spark.read.format("graft.sources.ManifestSink")
      .schema(sch).option("path", dir).load()
    assert(table.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      rows.toSet, "round trip through the sink+scan lost or corrupted values")
    // Column pruning reaches the reader: a projection's scan schema
    // carries only the projected field.
    val pruned = table.select("id")
    val scanSchema = pruned.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        s.scan.readSchema()
    }
    assert(scanSchema.exists(_.fieldNames.toSeq == Seq("id")),
      s"column pruning did not reach the NDJSON scan: $scanSchema")
    // Manifest-derived exact statistics feed the optimizer.
    val stats = table.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(3)),
      s"manifest row count did not reach statistics: $stats")
    // Schema inference (no .schema()): types recovered from the payload.
    val inferred = spark.read.format("graft.sources.ManifestSink")
      .option("path", dir).load()
    assert(inferred.schema.map(f => (f.name, f.dataType)).toSet ==
      Set(("id", LongType), ("t", StringType)), s"inferred: ${inferred.schema}")
    assert(inferred.count() == 3)
  }

  test("ManifestSink file skipping: min/max bounds prune whole files from the plan") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_manifest_skip").toString
    // Range-partitioned by id → 4 files with disjoint id ranges, the
    // layout a sorted/Z-ordered table at scale actually has.
    spark.range(0, 1000).select(col("id"),
        concat(lit("doc-"), format_string("%04d", col("id"))).as("t"))
      .repartitionByRange(4, col("id"))
      .write.format("graft.sources.ManifestSink")
      .option("path", dir).mode("append").save()
    val sch = StructType(Seq(StructField("id", LongType), StructField("t", StringType)))
    val table = spark.read.format("graft.sources.ManifestSink")
      .schema(sch).option("path", dir).load()
    def filePartitions(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.partitions.size
      }.sum
    assert(filePartitions(table) == 4, "expected one partition per file")
    // A point lookup plans exactly the one file whose range holds it …
    val point = table.where(col("id") === 500L)
    assert(filePartitions(point) == 1,
      s"point filter did not skip files:\n${point.queryExecution.executedPlan}")
    assert(point.count() == 1)
    // … a range predicate keeps only overlapping files …
    val range = table.where(col("id") >= 900L)
    assert(filePartitions(range) == 1, "range filter did not skip files")
    assert(range.count() == 100)
    // … string bounds prune too, and an impossible predicate plans ZERO
    // files (the scan never touches storage).
    assert(filePartitions(table.where(col("t") === "doc-0001")) == 1)
    assert(filePartitions(table.where(col("id") > 5000L)) == 0)
    // Skipping is an optimization, not a correctness dependency: the
    // residual row-level filter still applies inside surviving files.
    assert(table.where(col("id") === 250L || col("id") === 750L).count() == 2)
  }

  test("ManifestSink partitionBy: per-tuple files, exact pruning, unplanned files unread") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_manifest_part").toString
    // Hive-style partitioned write: repartition BY the partition column
    // first (the documented pattern), so each task holds whole tuples
    // and the writer emits one single-tuple file per (task, value).
    spark.range(0, 900)
      .select(col("id"), (col("id") % 3).cast("int").as("bucket"),
        concat(lit("doc-"), col("id")).as("t"))
      .repartition(col("bucket"))
      .write.format("graft.sources.ManifestSink")
      .option("path", dir).option("partitionBy", "bucket")
      .mode("append").save()
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("bucket", IntegerType), StructField("t", StringType)))
    val table = spark.read.format("graft.sources.ManifestSink")
      .schema(sch).option("path", dir).load()
    def filePartitions(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.partitions.size
      }.sum
    // One file per partition VALUE (3 values, each hashed to one task).
    val files = graft.sources.ManifestSink.committedFiles(dir)
    assert(files.size == 3, s"expected one file per bucket value: $files")
    // Equality on the partition column prunes to exactly one file; IN
    // keeps two; an absent value plans ZERO files.
    assert(filePartitions(table.where(col("bucket") === 1)) == 1)
    assert(filePartitions(table.where(col("bucket").isin(0, 2))) == 2)
    assert(filePartitions(table.where(col("bucket") === 7)) == 0)
    // Hard proof the pruned partitions are never READ: delete them from
    // disk — the filtered scan still answers (correctly), only a full
    // scan notices.
    val keep = table.where(col("bucket") === 1)
    def bucketOf(f: String): Int = {
      val in = Files.newBufferedReader(java.nio.file.Paths.get(dir, f))
      try """"bucket":(\d+)""".r.findFirstMatchIn(in.readLine()).get
        .group(1).toInt
      finally in.close()
    }
    files.filter(bucketOf(_) != 1)
      .foreach(f => Files.delete(java.nio.file.Paths.get(dir, f)))
    assert(keep.count() == 300)
    assert(keep.agg(sum("id")).head.getLong(0) ==
      (0L until 900L).filter(_ % 3 == 1).sum)
  }

  test("ManifestSink split reads: maxSplitBytes fans one file across partitions") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_manifest_split").toString
    // ONE committed file (the 10 GB-file shape in miniature): without
    // byte-range splits the whole file serializes through one task.
    spark.range(0, 1000).select(col("id"),
        concat(lit("doc-"), format_string("%04d", col("id"))).as("t"))
      .coalesce(1)
      .write.format("graft.sources.ManifestSink")
      .option("path", dir).mode("append").save()
    val fileName = graft.sources.ManifestSink.committedFiles(dir).head
    val fileBytes = Files.size(java.nio.file.Paths.get(dir, fileName))
    val sch = StructType(Seq(StructField("id", LongType), StructField("t", StringType)))
    def read(split: Option[Long]) = {
      val r = spark.read.format("graft.sources.ManifestSink")
        .schema(sch).option("path", dir)
      split.foreach(v => r.option("maxSplitBytes", v.toString))
      r.load()
    }
    def filePartitions(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.partitions.size
      }.sum
    // Default split size: one file → one partition.
    assert(filePartitions(read(None)) == 1)
    // Forced 1 KB ranges: the partition count is pinned to the byte
    // math (ceil(bytes/split)) — ≥ 3 splits for this fixture — and the
    // split path loses/duplicates nothing.
    val split = 1024L
    val parts = filePartitions(read(Some(split)))
    assert(parts == ((fileBytes + split - 1) / split).toInt && parts >= 3,
      s"expected ceil($fileBytes/$split) partitions, got $parts")
    val rows = read(Some(split)).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == 1000 && rows.toSet.size == 1000,
      "split read lost or duplicated rows")
    assert(rows.toMap.get(500L).contains("doc-0500"))
  }

  test("ManifestSink streaming source: generation offsets tail appends exactly once") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_manifest_tail").toString
    val sch = StructType(Seq(StructField("id", LongType)))
    def append(lo: Long, hi: Long): Unit =
      spark.range(lo, hi).coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", dir).option("retainHistory", "true")
        .mode("append").save()
    append(0, 100)
    val q = spark.readStream.format("graft.sources.ManifestSink")
      .schema(sch).option("path", dir).load()
      .writeStream.format("memory").queryName("mst_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("mst_tail").count() == 100)
      // Appends land incrementally: the next batch reads ONLY the new
      // files — no re-delivery of generation 1's rows. Hard proof that
      // planning is O(delta): generation 1's SEGMENT file is deleted
      // from disk before the tail's next batch plans — the fast-path
      // generation diff must plan from the NEW segments alone, never
      // re-reading carried ones (a batch scan of the same table would
      // throw here).
      append(100, 150)
      append(150, 160)
      def segNames: Seq[String] = {
        val it = Files.list(java.nio.file.Paths.get(dir)).iterator()
        val b = Seq.newBuilder[String]
        while (it.hasNext) {
          val f = it.next().getFileName.toString
          if (f.startsWith("seg-g") && f.endsWith(".json")) b += f
        }
        b.result()
      }
      val seg1Name = segNames.min // lowest generation = the carried one
      val seg1Bytes = Files.readAllBytes(java.nio.file.Paths.get(dir, seg1Name))
      Files.delete(java.nio.file.Paths.get(dir, seg1Name))
      q.processAllAvailable()
      val ids = spark.table("mst_tail").select("id").as[Long].collect()
      assert(ids.length == 160 && ids.toSet == (0L until 160L).toSet,
        "tail must deliver every appended row exactly once")
      Files.write(java.nio.file.Paths.get(dir, seg1Name), seg1Bytes)
      // A non-append change under the tail (compaction retires files)
      // must fail LOUDLY, not silently re-deliver merged rows.
      graft.sources.ManifestSink.compact(dir, targetRows = 1000L)
      append(160, 170)
      val err = intercept[Exception] { q.processAllAvailable() }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(err).exists(_.getMessage != null), err.toString)
    } finally q.stop()
  }

  test("ManifestSink streaming partitionBy: per-tuple epoch files, deterministic names") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_stream_part")
    val dir = root.resolve("table").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "cat")
      .writeStream.format("graft.sources.ManifestSink")
      .option("path", dir)
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .option("partitionBy", "cat")
      .outputMode("append").start()
    try {
      mem.addData((0L until 40L).map(i => (i, if (i % 2 == 0) "a" else "b")))
      q.processAllAvailable()
      mem.addData((40L until 60L).map(i => (i, "a")))
      q.processAllAvailable()
      val files = graft.sources.ManifestSink.committedFiles(dir)
      // Epoch 0 wrote per-(partition, tuple) files for 'a' and 'b';
      // epoch 1 only 'a' — every name carries the epoch and a tuple
      // digest, so a replay would regenerate identical names.
      assert(files.forall(_.startsWith("part-e")), files.toString)
      val sch = StructType(Seq(StructField("id", LongType),
        StructField("cat", StringType)))
      val table = spark.read.format("graft.sources.ManifestSink")
        .schema(sch).option("path", dir).load()
      assert(table.count() == 60)
      // Partition pruning holds on the streamed layout: cat = 'b'
      // exists only in epoch-0 files whose bounds pin cat to 'b'.
      def filePartitions(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            s.partitions.size
        }.sum
      val bFiles = filePartitions(table.where(col("cat") === "b"))
      assert(bFiles < files.size && bFiles >= 1,
        s"expected pruning: $bFiles of ${files.size}")
      assert(table.where(col("cat") === "b").count() == 20)
    } finally q.stop()
  }

  test("storage-partitioned join: co-partitioned manifest tables join shuffle-free") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft_spj").toString
    spark.conf.set("spark.sql.catalog.gspj", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gspj.base", wh)
    spark.sql("CREATE TABLE gspj.facts (k INT, v BIGINT) PARTITIONED BY (k)")
    spark.sql("CREATE TABLE gspj.dims (k INT, name STRING) PARTITIONED BY (k)")
    spark.sql("""INSERT INTO gspj.facts
      SELECT CAST(id % 8 AS INT), id FROM range(800)
      DISTRIBUTE BY CAST(id % 8 AS INT)""")
    spark.sql("""INSERT INTO gspj.dims
      SELECT CAST(id AS INT), concat('n', id) FROM range(8)
      DISTRIBUTE BY CAST(id AS INT)""")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val joined = spark.sql(
        """SELECT f.k, count(*) AS n, sum(f.v) AS sv
          |FROM gspj.facts f JOIN gspj.dims d ON f.k = d.k
          |GROUP BY f.k""".stripMargin)
      val plan = joined.queryExecution.executedPlan.toString
      // Both scans report KeyGroupedPartitioning over k, so the join's
      // required distribution is already satisfied: NO shuffle on
      // either join side (the aggregate reuses the same clustering).
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected a storage-partitioned (shuffle-free) join:\n$plan")
      val rows = joined.collect()
      assert(rows.length == 8)
      assert(rows.map(_.getLong(1)).forall(_ == 100),
        "every k must join its 100 fact rows exactly once")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
  }

  test("sorted scans: SPJ + reported ordering = a join with no exchange AND no sort") {
    val wh = Files.createTempDirectory("graft_sorted").toString
    spark.conf.set("spark.sql.catalog.gso", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gso.base", wh)
    // 'sortby' declares the write ordering; the writer stamps `sorted`
    // on every file, and the scan reports it back.
    spark.sql("""CREATE TABLE gso.a (k INT, v BIGINT) PARTITIONED BY (k)
      TBLPROPERTIES ('sortby'='k')""")
    spark.sql("""CREATE TABLE gso.b (k INT, w BIGINT) PARTITIONED BY (k)
      TBLPROPERTIES ('sortby'='k')""")
    spark.sql("""INSERT INTO gso.a
      SELECT CAST(id % 8 AS INT), id FROM range(400)
      DISTRIBUTE BY CAST(id % 8 AS INT)""")
    spark.sql("""INSERT INTO gso.b
      SELECT CAST(id % 8 AS INT), id * 10 FROM range(80)
      DISTRIBUTE BY CAST(id % 8 AS INT)""")
    // Unsorted control: same layout, no declared ordering.
    spark.sql("CREATE TABLE gso.c (k INT, w BIGINT) PARTITIONED BY (k)")
    spark.sql("""INSERT INTO gso.c
      SELECT CAST(id % 8 AS INT), id * 10 FROM range(80)
      DISTRIBUTE BY CAST(id % 8 AS INT)""")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
      val j = spark.sql(
        "SELECT a.k, a.v, b.w FROM gso.a a JOIN gso.b b ON a.k = b.k")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"SPJ must stay shuffle-free:\n$plan")
      // THE PIN: both scans report [k ASC], so EnsureRequirements
      // inserts NO per-partition sorts under the merge join.
      assert(!plan.contains("- Sort ["),
        s"reported ordering must elide the join sorts:\n$plan")
      assert(j.count() == 400L * 80 / 8, "50 a-rows x 10 b-rows per key")
      // Stand-down control: the unsorted side forces a sort back in.
      val jc = spark.sql(
        "SELECT a.k, a.v, c.w FROM gso.a a JOIN gso.c c ON a.k = c.k")
      val planC = jc.queryExecution.executedPlan.toString
      if (planC.contains("SortMergeJoin"))
        assert(planC.contains("- Sort ["),
          s"an unsorted table cannot claim ordering:\n$planC")
      // Compacting b into ONE file: the sorted MERGE keeps the order
      // stamp (SortedCompactionSpec pins that), but the single file
      // spans every k, so the PARTITION tuple is no longer provable —
      // SPJ degrades to a shuffled join, and a shuffle's output is
      // unordered, so the sort comes back with it. Conservative on
      // both axes; rows unchanged.
      graft.sources.ManifestSink.compact(
        java.nio.file.Paths.get(wh, "b").toString, targetRows = 1000000L)
      val j2 = spark.sql(
        "SELECT a.k, a.v, b.w FROM gso.a a JOIN gso.b b ON a.k = b.k")
      val plan2 = j2.queryExecution.executedPlan.toString
      if (plan2.contains("SortMergeJoin"))
        assert(plan2.contains("- Sort ["),
          s"a shuffled join cannot reuse the scan order:\n$plan2")
      assert(j2.count() == 400L * 80 / 8)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.join.preferSortMergeJoin")
    }
    Seq("a", "b", "c").foreach(t => spark.sql(s"DROP TABLE gso.$t"))
  }

  test("streaming sortBy: epoch-written files stamp sorted; the silver join plans with no sort") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream_sorted").toString
    val cat = "gsst_" + (wh.hashCode & 0x7fffffff)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", wh)
    spark.sql(s"""CREATE TABLE $cat.a (k INT, v BIGINT) PARTITIONED BY (k)
      TBLPROPERTIES ('sortby'='k')""")
    spark.sql(s"""CREATE TABLE $cat.b (k INT, w BIGINT) PARTITIONED BY (k)
      TBLPROPERTIES ('sortby'='k')""")
    // STREAM into a: the epoch writer verifies and stamps `sorted` on
    // its per-tuple files — a streamed-in silver table claims ordering
    // exactly like a batch-written one.
    val mem = MemoryStream[(Int, Long)]
    val q = mem.toDF().toDF("k", "v").coalesce(1)
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Paths.get(wh, "ckpt").toString)
      .outputMode("append").toTable(s"$cat.a")
    mem.addData((0 until 400).map(i => (i % 8, i.toLong)))
    q.processAllAvailable()
    q.stop()
    spark.sql(s"""INSERT INTO $cat.b
      SELECT CAST(id % 8 AS INT), id * 10 FROM range(80)
      DISTRIBUTE BY CAST(id % 8 AS INT)""")
    assert(spark.sql(s"SELECT count(*) FROM $cat.a").head.getLong(0) == 400)
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
      val j = spark.sql(
        s"SELECT a.k, a.v, b.w FROM $cat.a a JOIN $cat.b b ON a.k = b.k")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"stream-written + batch-written pair must SPJ:\n$plan")
      // THE PIN: the STREAMED table's scan reports [k ASC] too, so the
      // merge join plans with zero sorts on either side.
      assert(!plan.contains("- Sort ["),
        s"epoch-stamped ordering must elide the join sorts:\n$plan")
      assert(j.count() == 400L * 80 / 8)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.join.preferSortMergeJoin")
    }
    // The stamp is VERIFIED, not declared: a table whose stream delivers
    // out-of-order rows within a file drops the claim (sound) — v is
    // unsorted here and sortby='v' cannot be verified per-tuple-file.
    spark.sql(s"""CREATE TABLE $cat.c (k INT, v BIGINT)
      TBLPROPERTIES ('sortby'='v')""")
    val mem2 = MemoryStream[(Int, Long)]
    val q2 = mem2.toDF().toDF("k", "v").coalesce(1)
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Paths.get(wh, "ckpt2").toString)
      .outputMode("append").toTable(s"$cat.c")
    mem2.addData(Seq((1, 5L), (1, 3L), (1, 9L), (1, 1L)))
    q2.processAllAvailable()
    q2.stop()
    // Order may or may not hold depending on Spark's streaming sort
    // support — the invariant is the stamp NEVER LIES: if claimed, the
    // file is sorted. Read rows per file and cross-check.
    val rows = spark.sql(s"SELECT v FROM $cat.c").collect().map(_.getLong(0))
    assert(rows.sorted.sameElements(Array(1L, 3L, 5L, 9L)))
    Seq("a", "b", "c").foreach(t => spark.sql(s"DROP TABLE $cat.$t"))
  }

  test("bucket partitioning: high-cardinality keys join shuffle-free; point lookups prune") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft_bucket_spj").toString
    spark.conf.set("spark.sql.catalog.gbkt", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gbkt.base", wh)
    // bucket(4, id): identity would explode into a file per key — the
    // bucketed layout is how big-big joins co-locate.
    spark.sql("""CREATE TABLE gbkt.facts (id BIGINT, v BIGINT)
      PARTITIONED BY (bucket(4, id))""")
    spark.sql("""CREATE TABLE gbkt.dims (id BIGINT, name STRING)
      PARTITIONED BY (bucket(4, id))""")
    spark.sql("""INSERT INTO gbkt.facts
      SELECT /*+ REPARTITION(2) */ id, id * 10 FROM range(400)""")
    spark.sql("""INSERT INTO gbkt.dims
      SELECT /*+ REPARTITION(2) */ id, concat('n', id) FROM range(400)""")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val joined = spark.sql(
        """SELECT f.id, f.v, d.name
          |FROM gbkt.facts f JOIN gbkt.dims d ON f.id = d.id""".stripMargin)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed tables must storage-partition join:\n$plan")
      val rows = joined.collect()
      assert(rows.length == 400)
      assert(rows.forall(r => r.getString(2) == "n" + r.getLong(0) &&
        r.getLong(1) == r.getLong(0) * 10))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
    // Bucket pruning: a point lookup hashes the literal and plans only
    // the matching bucket's files (1 of 4 buckets x 2 insert tasks).
    def filePartitions(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.partitions.size
      }.sum
    val total = filePartitions(spark.table("gbkt.facts"))
    val point = spark.sql("SELECT * FROM gbkt.facts WHERE id = 123")
    assert(filePartitions(point) * 2 <= total,
      s"bucket pruning must cut the plan: ${filePartitions(point)} of $total")
    assert(point.count() == 1)
    // t$partitions resolves bucket tuples from the entries' RECORDED
    // partition values — bucket ids are never derivable from column
    // bounds, so the bounds-proof fallback alone would report every
    // file as <unaligned>.
    val parts = spark.sql(
      "SELECT partition, files, rows FROM gbkt.`facts$partitions`")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(parts.forall(_._1.startsWith("bucket(4,id)=")),
      s"bucketed files must report their bucket tuple: ${parts.mkString(", ")}")
    assert(parts.map(_._3).sum == 400 && parts.length == 4 &&
      parts.map(_._2).sum == 8,
      s"4 bucket tuples rolling up 2 files each: ${parts.mkString(", ")}")
    // DROP COLUMN must protect a bucket spec's SOURCE column — the spec
    // is persisted as "bucket(4,id)", so a raw name comparison would
    // let `id` drop and leave the partition spec dangling (every later
    // INSERT fails "partitionBy column not in written schema").
    val dropErr = intercept[Exception] {
      spark.sql("ALTER TABLE gbkt.facts DROP COLUMN id")
    }
    assert(dropErr.getMessage.contains("partition column"),
      s"wrong refusal: ${dropErr.getMessage}")
    spark.sql("INSERT INTO gbkt.facts VALUES (1000, 10000)")
    assert(spark.sql("SELECT count(*) FROM gbkt.facts").head.getLong(0) == 401,
      "table must stay writable after the refused DROP")
  }

  test("deletion vectors × bucketed layout: DV'd files still storage-partition join") {
    val wh = Files.createTempDirectory("graft_dv_spj").toString
    spark.conf.set("spark.sql.catalog.gsil", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsil.base", wh)
    spark.sql("""CREATE TABLE gsil.silver (id BIGINT, v BIGINT)
      PARTITIONED BY (bucket(4, id))
      TBLPROPERTIES ('deletionVectors'='true')""")
    spark.sql("""CREATE TABLE gsil.dims (id BIGINT, name STRING)
      PARTITIONED BY (bucket(4, id))""")
    spark.sql("INSERT INTO gsil.silver SELECT id, id * 10 FROM range(400)")
    spark.sql("INSERT INTO gsil.dims SELECT id, concat('n', id) FROM range(400)")
    // Merge-on-read delete: the bucketed files keep their recorded
    // partition tuples (the entry is COPIED, never rewritten), so the
    // SPJ proof must survive the vector.
    spark.sql("DELETE FROM gsil.silver WHERE id % 5 = 2")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val joined = spark.sql(
        """SELECT s.id, s.v, d.name
          |FROM gsil.silver s JOIN gsil.dims d ON s.id = d.id""".stripMargin)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"DV'd bucketed tables must keep storage-partition joining:\n$plan")
      val rows = joined.collect()
      assert(rows.length == 320, s"400 minus the 80 vectored: ${rows.length}")
      assert(rows.forall(r => r.getLong(0) % 5 != 2 &&
        r.getLong(1) == r.getLong(0) * 10 &&
        r.getString(2) == "n" + r.getLong(0)))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
    spark.sql("DROP TABLE gsil.silver")
    spark.sql("DROP TABLE gsil.dims")
  }

  test("ManifestSink change feed: deletes and rewrites stream as _change_type rows") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_cdf").toString
    def append(lo: Long, hi: Long): Unit =
      spark.range(lo, hi).selectExpr("id", "id * 2 AS v").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", dir).option("retainHistory", "true")
        .mode("append").save()
    append(0, 50)
    append(50, 100)
    val cdfSchema = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType), StructField("_change_type", StringType)))
    val q = spark.readStream.format("graft.sources.ManifestSink")
      .schema(cdfSchema).option("path", dir)
      .option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("cdf_feed")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def feed = spark.table("cdf_feed")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      assert(feed.length == 100 && feed.forall(_._3 == "insert"))
      // A copy-on-write MERGE rewrites file 1 (ids 0-49): the feed gets
      // its 50 rows back as deletes plus 51 rows (50 kept + 1 updated
      // value + nothing new... ids 0-49 rewritten with id 7 changed) as
      // inserts.
      val updates = Seq((7L, 777L)).toDF("id", "v")
      graft.sources.ManifestOps.mergeInto(spark, dir, updates, "id",
        writeOptions = Map("retainHistory" -> "true"))
      q.processAllAvailable()
      val afterMerge = feed
      val deletes = afterMerge.filter(_._3 == "delete")
      assert(deletes.length == 50 && deletes.forall(_._1 < 50),
        s"the rewritten file's rows must re-emit as deletes: ${deletes.length}")
      assert(afterMerge.count(_._3 == "insert") == 150,
        "the rewrite's output lands as inserts")
      assert(afterMerge.exists(r => r == ((7L, 777L, "insert"))))
      // Net state reconstruction — the CDF contract: per (id, v),
      // insert count minus delete count (a row inserted, deleted by a
      // rewrite, and re-inserted nets to one) equals the table.
      val net = afterMerge.groupBy(r => (r._1, r._2)).collect {
        case (row, occ)
            if occ.count(_._3 == "insert") > occ.count(_._3 == "delete") =>
          row
      }.toSet
      val sch = StructType(cdfSchema.fields.dropRight(1))
      val table = spark.read.format("graft.sources.ManifestSink")
        .schema(sch).option("path", dir).load()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(net == table,
        "replaying the feed must reconstruct the table")
      // A metadata DELETE streams as pure deletes.
      val preCount = feed.length
      new graft.sources.ManifestSink()
        .getTable(sch, Array.empty, java.util.Map.of("path", dir))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsDelete]
        .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.GreaterThanOrEqual("id", 50L)))
      q.processAllAvailable()
      val afterDelete = feed
      assert(afterDelete.length == preCount + 50)
      assert(afterDelete.count(r => r._3 == "delete" && r._1 >= 50) == 50)
      // Pure compaction is a PHYSICAL rewrite: the feed stays silent.
      graft.sources.ManifestSink.compact(dir, targetRows = 1000L)
      q.processAllAvailable()
      assert(feed.length == afterDelete.length,
        "compaction must not emit logical changes")
      // BATCH change-feed (Delta's table_changes): replay the window
      // since generation 2 without a stream — applying the net diff to
      // the retained generation-2 snapshot must reproduce the table.
      val sch2 = StructType(cdfSchema.fields.dropRight(1))
      val base = spark.read.format("graft.sources.ManifestSink")
        .schema(sch2).option("path", dir).option("versionAsOf", "2").load()
        .collect().map(r => (r.getLong(0), r.getLong(1), "insert"))
      val changes = spark.read.format("graft.sources.ManifestSink")
        .schema(cdfSchema).option("path", dir)
        .option("readChangeFeed", "true").option("startingVersion", "2")
        .load().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      val netWindow = (base ++ changes).groupBy(r => (r._1, r._2)).collect {
        case (row, occ)
            if occ.count(_._3 == "insert") > occ.count(_._3 == "delete") =>
          row
      }.toSet
      val current = spark.read.format("graft.sources.ManifestSink")
        .schema(sch2).option("path", dir).load()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(netWindow == current,
        "snapshot + batch change window must reproduce the table")
    } finally q.stop()
  }

  test("GraftCatalog SQL surface: DDL, INSERT, pruned SELECT, time travel, metadata DELETE") {
    val wh = Files.createTempDirectory("graft_catalog").toString
    spark.conf.set("spark.sql.catalog.g10", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.g10.base", wh)
    spark.sql("""CREATE TABLE g10.docs (id BIGINT, lang STRING, t STRING)
      PARTITIONED BY (lang) TBLPROPERTIES ('retainHistory'='true')""")
    assert(spark.sql("SHOW TABLES IN g10").collect().map(_.getString(1))
      .contains("docs"))
    // Two INSERTs → retained generations 1 and 2; partitioned files.
    spark.sql("""INSERT INTO g10.docs
      SELECT id, CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END,
             concat('d', id) FROM range(100)""")
    Thread.sleep(25)
    val betweenInserts = System.currentTimeMillis()
    Thread.sleep(25)
    spark.sql("""INSERT INTO g10.docs
      SELECT /*+ REPARTITION(1) */ id, 'fr', concat('d', id)
      FROM range(100, 150)""")
    // TIMESTAMP AS OF resolves through the pointer's commit stamps: a
    // moment between the inserts reads generation 1 only.
    assert(spark.sql(
      s"""SELECT count(*) FROM g10.docs
         |TIMESTAMP AS OF timestamp_millis(${betweenInserts}L)""".stripMargin)
      .head.getLong(0) == 100)
    // t$partitions: the per-tuple rollup over proven single-tuple files.
    val parts = spark.sql(
      "SELECT partition, files, rows FROM g10.`docs$partitions`")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(parts("""lang="fr"""") == ((1L, 50L)), parts.toString)
    assert(parts("""lang="en"""")._2 == 50L && parts("""lang="de"""")._2 == 50L)
    assert(spark.sql("SELECT count(*) FROM g10.docs").head.getLong(0) == 150)
    // Partition pruning reaches SQL reads: lang = 'fr' plans 1 file.
    def filePartitions(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.partitions.size
      }.sum
    assert(filePartitions(
      spark.sql("SELECT * FROM g10.docs WHERE lang = 'fr'")) == 1)
    // Time travel through SQL: generation 1 predates the second insert.
    assert(spark.sql("SELECT count(*) FROM g10.docs VERSION AS OF 1")
      .head.getLong(0) == 100)
    // Metadata-only DELETE of a whole partition (min == max bounds
    // prove all-match; null counts prove no null escapes the proof).
    spark.sql("DELETE FROM g10.docs WHERE lang = 'de'")
    assert(spark.sql("SELECT count(*) FROM g10.docs").head.getLong(0) == 100)
    assert(spark.sql(
      "SELECT count(*) FROM g10.docs WHERE lang = 'de'").head.getLong(0) == 0)
    // Retention: the pre-delete snapshot still reads the deleted rows.
    assert(spark.sql("SELECT count(*) FROM g10.docs VERSION AS OF 2")
      .head.getLong(0) == 150)
    // A partial-overlap DELETE (stats cannot prove all-match) falls
    // back to the group-based copy-on-write REWRITE: the matching rows
    // go, the rest of the touched files rewrite, untouched partitions
    // stay. (Until round 11 this refused; SupportsRowLevelOperations
    // upgraded it to the form lakehouse users actually write.)
    spark.sql("DELETE FROM g10.docs WHERE id < 10")
    // 50 en (even ids 0..98) + 50 fr (100..149); ids 0,2,4,6,8 leave.
    assert(spark.sql("SELECT count(*) FROM g10.docs").head.getLong(0) == 95,
      "partial-overlap DELETE must rewrite and drop exactly 5 rows")
    assert(spark.sql("SELECT count(*) FROM g10.docs WHERE id < 10")
      .head.getLong(0) == 0)
    // Metadata tables (the Iceberg t$history / t$files idea): the
    // format's bookkeeping is itself queryable SQL.
    val hist = spark.sql(
      "SELECT generation, tag, is_current FROM g10.`docs$history` ORDER BY generation")
      .collect()
    assert(hist.length >= 3, hist.mkString(","))
    assert(hist.last.getBoolean(2) && hist.init.forall(!_.getBoolean(2)))
    assert(hist.map(_.getString(1)).contains("delete"),
      "the DELETE commit's tag must appear in history")
    val files = spark.sql(
      "SELECT name, rows, bytes, stats FROM g10.`docs$files`").collect()
    assert(files.nonEmpty && files.forall(_.getLong(2) > 0))
    assert(files.forall(r => r.getString(3).contains("lang: ") &&
      r.getString(3).contains("nulls.lang: 0")),
      s"per-file bounds and null counts must surface: ${files.head}")
    assert(files.forall(!_.getString(3).contains("lang: [\"de\"")),
      "no de partition may survive the DELETE")

    // Rename, truncate, drop round out the DDL surface.
    spark.sql("ALTER TABLE g10.docs RENAME TO docs2")
    assert(spark.sql("SELECT count(*) FROM g10.docs2").head.getLong(0) == 95)
    spark.sql("TRUNCATE TABLE g10.docs2")
    assert(spark.sql("SELECT count(*) FROM g10.docs2").head.getLong(0) == 0)
    spark.sql("DROP TABLE g10.docs2")
    assert(spark.sql("SHOW TABLES IN g10").collect().isEmpty)
  }

  test("SQL row-level DML: MERGE/UPDATE/DELETE rewrite only the affected files") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft_rowlevel").toString
    spark.conf.set("spark.sql.catalog.gdml", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdml.base", wh)
    spark.sql("CREATE TABLE gdml.t (id BIGINT, v STRING)")
    // Range-partitioned layout: 4 files with disjoint id ranges, so
    // "only the affected file rewrites" is provable by file-set diff.
    spark.range(0, 1000).select(col("id"),
        concat(lit("old-"), col("id")).as("v"))
      .repartitionByRange(4, col("id"))
      .writeTo("gdml.t").append()
    val dir = java.nio.file.Paths.get(wh, "t").toString
    val before = graft.sources.ManifestSink.committedFiles(dir).toSet
    assert(before.size == 4)

    // UPDATE with a pushable predicate: manifest stats prune the scan
    // to the ONE file whose bounds overlap; only it rewrites.
    spark.sql("UPDATE gdml.t SET v = concat('upd-', id) " +
      "WHERE id >= 100 AND id <= 119")
    val afterU = graft.sources.ManifestSink.committedFiles(dir).toSet
    assert((before -- afterU).size == 1,
      s"exactly one file must retire, got ${(before -- afterU).size}")
    assert((before intersect afterU).size == 3, "untouched files carry over")
    val rowsU = spark.sql("SELECT id, v FROM gdml.t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rowsU.size == 1000)
    assert(rowsU(110L) == "upd-110" && rowsU(99L) == "old-99" &&
      rowsU(120L) == "old-120")

    // MERGE keyed on SOURCE values: nothing is statically pushable
    // (the ON condition references the source table), so the runtime
    // group filter must narrow the rewrite — a `_file`-projecting
    // subquery finds the matching groups and only they retire. At
    // 100 TB this is the difference between rewriting 2 files and
    // rewriting the table.
    spark.sql("CREATE TABLE gdml.src (id BIGINT, v STRING)")
    spark.sql(
      "INSERT INTO gdml.src VALUES (500, 'm-500'), (501, 'm-501'), (5000, 'm-5000')")
    val beforeM = graft.sources.ManifestSink.committedFiles(dir).toSet
    spark.sql("""MERGE INTO gdml.t t USING gdml.src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    val afterM = graft.sources.ManifestSink.committedFiles(dir).toSet
    assert((beforeM -- afterM).size == 1,
      s"runtime group filtering must retire only the file holding ids " +
        s"500-501, got ${(beforeM -- afterM).size} of ${beforeM.size}")
    val rowsM = spark.sql("SELECT id, v FROM gdml.t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rowsM.size == 1001)
    assert(rowsM(500L) == "m-500" && rowsM(501L) == "m-501" &&
      rowsM(5000L) == "m-5000" && rowsM(499L) == "old-499" &&
      rowsM(110L) == "upd-110")

    // Partial-overlap DELETE: copy-on-write of the one touched file.
    val beforeD = graft.sources.ManifestSink.committedFiles(dir).toSet
    spark.sql("DELETE FROM gdml.t WHERE id >= 990 AND id <= 994")
    val afterD = graft.sources.ManifestSink.committedFiles(dir).toSet
    assert((beforeD -- afterD).size == 1)
    assert(spark.sql("SELECT count(*) FROM gdml.t").head.getLong(0) == 996)
    assert(spark.sql("SELECT count(*) FROM gdml.t WHERE id BETWEEN 990 AND 994")
      .head.getLong(0) == 0)

    // The `_file` metadata column is also a first-class debugging
    // surface: rows group by the physical file they live in.
    val fileGroups = spark.sql(
      "SELECT _file, count(*) AS n FROM gdml.t GROUP BY _file").collect()
    assert(fileGroups.map(_.getLong(1)).sum == 996)
    assert(fileGroups.forall(_.getString(0).endsWith(".ndjson")))
    spark.sql("DROP TABLE gdml.t")
    spark.sql("DROP TABLE gdml.src")
  }

  test("deletion vectors: merge-on-read DELETE never rewrites data files") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft_dv").toString
    spark.conf.set("spark.sql.catalog.gdv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdv.base", wh)
    spark.sql("""CREATE TABLE gdv.t (id BIGINT, v STRING)
      TBLPROPERTIES ('deletionVectors'='true')""")
    spark.range(0, 1000).select(col("id"),
        concat(lit("v-"), col("id")).as("v"))
      .repartitionByRange(4, col("id"))
      .writeTo("gdv.t").append()
    val dir = java.nio.file.Paths.get(wh, "t")
    def dataFiles = graft.sources.ManifestSink.committedFiles(dir.toString).toSet
    def sidecars = {
      val ls = Files.list(dir)
      try {
        val it = ls.iterator(); val b = Set.newBuilder[String]
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (n.contains(".dv-g")) b += n
        }
        b.result()
      } finally ls.close()
    }
    val before = dataFiles
    assert(before.size == 4)
    val bytesBefore = before.map(n =>
      n -> Files.readAllBytes(dir.resolve(n)).toSeq).toMap

    // The headline pin: a 5-row DELETE writes a sidecar, not a rewrite —
    // every data file is BYTE-IDENTICAL afterwards.
    spark.sql("DELETE FROM gdv.t WHERE id >= 100 AND id <= 104")
    assert(dataFiles == before, "merge-on-read must not retire data files")
    before.foreach(n => assert(
      Files.readAllBytes(dir.resolve(n)).toSeq == bytesBefore(n),
      s"data file $n must be byte-identical after a DV delete"))
    assert(sidecars.size == 1, s"one touched file -> one sidecar: $sidecars")
    assert(spark.sql("SELECT count(*) FROM gdv.t").head.getLong(0) == 995)
    assert(spark.sql(
      "SELECT count(*) FROM gdv.t WHERE id BETWEEN 100 AND 104")
      .head.getLong(0) == 0)

    // Second DELETE on the same file: vectors are cumulative and
    // immutable — a NEW sidecar replaces the old (unreferenced, so GC'd
    // on an unretained table), and both deletes stay applied.
    spark.sql("DELETE FROM gdv.t WHERE id >= 105 AND id <= 106")
    assert(dataFiles == before)
    assert(sidecars.size == 1, s"old sidecar must retire: $sidecars")
    assert(spark.sql("SELECT count(*) FROM gdv.t").head.getLong(0) == 993)
    assert(spark.sql(
      "SELECT count(*) FROM gdv.t WHERE id BETWEEN 100 AND 106")
      .head.getLong(0) == 0)

    // Split reads apply the vector too (byte offsets survive splits).
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    val split = spark.read.format("graft.sources.ManifestSink")
      .schema(schema).option("path", dir.toString)
      .option("maxSplitBytes", "512").load()
    assert(split.count() == 993)

    // `_pos` is a queryable metadata column (the debugging surface of
    // row identity); (_file, _pos) is unique.
    val ids = spark.sql("SELECT _file, _pos FROM gdv.t").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(ids.length == 993 && ids.distinct.length == 993)

    // A non-prunable predicate that covers every remaining row of one
    // file grows the vector to the whole file: the entry (data file AND
    // sidecar) must retire outright — a vector never outgrows its file.
    val f0 = spark.sql(
      "SELECT _file FROM gdv.t WHERE id = 0").head.getString(0)
    val hi = spark.sql(
      s"SELECT max(id) FROM gdv.t WHERE _file = '$f0'").head.getLong(0)
    spark.sql(s"DELETE FROM gdv.t WHERE id <= $hi AND v LIKE 'v-%'")
    assert(!dataFiles.contains(f0), "fully-deleted file must leave the manifest")
    assert(!Files.exists(dir.resolve(f0)), "its data file is GC'd")
    assert(spark.sql(s"SELECT count(*) FROM gdv.t WHERE id <= $hi")
      .head.getLong(0) == 0)

    // Compaction MATERIALIZES vectors: sidecars disappear, results hold.
    spark.sql("DELETE FROM gdv.t WHERE id >= 500 AND id <= 501")
    assert(sidecars.nonEmpty)
    // t$files exposes the merge-on-read state: physical vs live rows
    // and the sidecar name — the "why does count(*) differ from rows"
    // debugging view.
    val fmeta = spark.sql(
      "SELECT name, rows, live_rows, dv, dv_rows, dv_bytes, seq " +
        "FROM gdv.`t$files`").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3)), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(fmeta.map(_._3).sum ==
      spark.sql("SELECT count(*) FROM gdv.t").head.getLong(0),
      "live_rows must sum to the table count")
    assert(fmeta.exists(f => f._4.isDefined && f._3 < f._2),
      s"a vectored file must report its sidecar and reduced live rows: " +
        fmeta.mkString(", "))
    assert(fmeta.filter(_._4.isEmpty).forall(f => f._2 == f._3),
      "unvectored files report live_rows == rows")
    // Consolidation metrics: dv_rows reconciles physical vs live
    // exactly, and a sidecar's on-disk bytes are visible (the
    // when-to-compact signal); vector-free files report 0/0.
    fmeta.foreach { f =>
      assert(f._5 == f._2 - f._3, s"dv_rows must equal rows - live: $f")
      if (f._4.isDefined) assert(f._6 > 0L, s"sidecar bytes visible: $f")
      else assert(f._5 == 0L && f._6 == 0L, s"no vector, no debt: $f")
      assert(f._7 >= 0L)
    }
    assert(fmeta.exists(_._7 > 0L),
      "commit sequence stamps must surface in t$files")
    val preCompact = spark.sql("SELECT id, v FROM gdv.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    graft.sources.ManifestSink.compact(dir.toString, targetRows = 10000L)
    assert(sidecars.isEmpty, "compaction must retire materialized sidecars")
    val postCompact = spark.sql("SELECT id, v FROM gdv.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(postCompact == preCompact)

    // Subquery predicates route through the same position-delta plan —
    // the CDC-apply shape (DELETE WHERE key IN (SELECT ...)) with no
    // key collection on the driver and still no file rewrite.
    val preSub = dataFiles
    val preCount = spark.sql("SELECT count(*) FROM gdv.t").head.getLong(0)
    val victims = spark.sql("SELECT id FROM gdv.t ORDER BY id DESC LIMIT 3")
      .collect().map(_.getLong(0))
    spark.range(0, 3).selectExpr(s"id + ${victims.min} AS did")
      .createOrReplaceTempView("gdv_kill")
    spark.sql("DELETE FROM gdv.t WHERE id IN (SELECT did FROM gdv_kill)")
    assert(dataFiles == preSub, "subquery DELETE stays merge-on-read")
    assert(spark.sql("SELECT count(*) FROM gdv.t").head.getLong(0) ==
      preCount - 3)
    spark.sql("DROP TABLE gdv.t")
  }

  test("deletion vectors: merge-on-read UPDATE appends replacements, never rewrites") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft_dvu").toString
    spark.conf.set("spark.sql.catalog.gdvu", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdvu.base", wh)
    spark.sql("""CREATE TABLE gdvu.t (id BIGINT, v STRING)
      TBLPROPERTIES ('deletionVectors'='true')""")
    spark.range(0, 1000).select(col("id"),
        concat(lit("old-"), col("id")).as("v"))
      .repartitionByRange(4, col("id"))
      .writeTo("gdvu.t").append()
    val dir = java.nio.file.Paths.get(wh, "t")
    val before = graft.sources.ManifestSink.committedFiles(dir.toString).toSet
    assert(before.size == 4)
    val bytesBefore = before.map(n =>
      n -> Files.readAllBytes(dir.resolve(n)).toSeq).toMap

    // Non-prunable predicate touching all 4 files: copy-on-write would
    // rewrite the whole table; merge-on-read vector-deletes 10 old
    // positions and appends ONE commit's worth of replacement rows.
    spark.sql("UPDATE gdvu.t SET v = concat('upd-', id) WHERE id % 100 = 7")
    val after = graft.sources.ManifestSink.committedFiles(dir.toString).toSet
    assert(before.subsetOf(after),
      s"originals must survive an MoR update: ${before -- after} vanished")
    before.foreach(n => assert(
      Files.readAllBytes(dir.resolve(n)).toSeq == bytesBefore(n),
      s"data file $n must be byte-identical after a DV update"))
    assert((after -- before).nonEmpty, "replacement rows land in new files")
    val rows = spark.sql("SELECT id, v FROM gdvu.t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 1000)
    assert(rows(107L) == "upd-107" && rows(907L) == "upd-907" &&
      rows(106L) == "old-106")

    // Updating an already-updated row: the old version lives in a NEW
    // file now; its position vector-deletes there, the rest holds.
    spark.sql("UPDATE gdvu.t SET v = 'twice' WHERE id = 107")
    val rows2 = spark.sql("SELECT id, v FROM gdvu.t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows2.size == 1000 && rows2(107L) == "twice" &&
      rows2(207L) == "upd-207" && rows2(106L) == "old-106")
    // Zero-match UPDATE publishes no generation (no feed noise).
    val genBefore = graft.sources.ManifestSink.committedGeneration(dir.toString)
    spark.sql("UPDATE gdvu.t SET v = 'never' WHERE id = -5")
    assert(graft.sources.ManifestSink.committedGeneration(dir.toString) ==
      genBefore, "a no-op UPDATE must not publish a generation")
    spark.sql("DROP TABLE gdvu.t")
  }

  test("CALL procedures: compact / expire_snapshots / vacuum through SQL") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft_call").toString
    spark.conf.set("spark.sql.catalog.gcall", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcall.base", wh)
    spark.sql("""CREATE TABLE gcall.t (id BIGINT, v BIGINT)
      TBLPROPERTIES ('deletionVectors'='true', 'retainHistory'='true')""")
    (0 until 4).foreach(k =>
      spark.sql(s"INSERT INTO gcall.t SELECT id, id FROM range(${k * 50}, ${k * 50 + 50})"))
    spark.sql("DELETE FROM gcall.t WHERE id % 10 = 3") // DV sidecar
    val dir = java.nio.file.Paths.get(wh, "t").toString
    val filesBefore = graft.sources.ManifestSink.committedFiles(dir).size
    // compact: bin-packs the 4 small files and materializes the vector.
    val merged = spark.sql("CALL gcall.system.compact('t', 100000)")
      .head.getInt(0)
    assert(merged == filesBefore, s"all $filesBefore files merge: $merged")
    assert(spark.sql("SELECT count(*) FROM gcall.t").head.getLong(0) == 180)
    // expire_snapshots: drop all but the newest generation.
    val exp = spark.sql("CALL gcall.system.expire_snapshots('t', 1)").head
    assert(exp.getInt(1) >= 4, s"generations dropped: ${exp.getInt(1)}")
    // vacuum with a zero age floor sweeps nothing live.
    val vac = spark.sql("CALL gcall.system.vacuum('t', 0)").head
    assert(vac.getInt(0) == 0, "vacuum must not collect referenced files")
    assert(spark.sql("SELECT count(*) FROM gcall.t").head.getLong(0) == 180)
    // Discovery: SHOW PROCEDURES lists the maintenance surface.
    val names = spark.sql("SHOW PROCEDURES IN gcall.system")
      .collect().map(r => r.getString(r.length - 1)).toSet
    assert(names == Set("compact", "expire_snapshots", "vacuum", "zorder",
      "create_tag", "drop_tag", "restore",
      "create_branch", "fast_forward", "drop_branch",
      "add_partition_field", "drop_partition_field",
      "replace_partition_spec", "commit_all", "cluster",
      "refresh_mv"), s"$names")
    // CALL cluster: one atomic sorted rewrite; rows survive, bounds
    // tighten (a point predicate now prunes to one file), and the
    // rewritten files are stamped sorted (the SupportsReportOrdering
    // feed — plan-level assertions live in the sorted-scans test).
    val before = spark.sql("SELECT count(*) FROM gcall.t").head.getLong(0)
    val cl = spark.sql("CALL gcall.system.cluster('t', 'id', 4)").head
    assert(cl.getInt(0) == 4, s"files_written: $cl")
    assert(spark.sql("SELECT count(*) FROM gcall.t").head.getLong(0)
      == before)
    spark.sql("DROP TABLE gcall.t")
  }

  test("tags: named snapshots survive expiry and read via VERSION AS OF") {
    val wh = Files.createTempDirectory("graft_tags").toString
    spark.conf.set("spark.sql.catalog.gtag", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtag.base", wh)
    spark.sql("""CREATE TABLE gtag.t (id BIGINT, v BIGINT)
      TBLPROPERTIES ('retainHistory'='true')""")
    spark.sql("INSERT INTO gtag.t SELECT id, id FROM range(100)")    // gen 1
    spark.sql("CALL gtag.system.create_tag('t', 'training-v1')")
    spark.sql("INSERT INTO gtag.t SELECT id, id FROM range(100, 250)") // gen 2
    spark.sql("INSERT INTO gtag.t SELECT id, id FROM range(250, 400)") // gen 3
    // Read through the tag name (non-numeric VERSION AS OF).
    assert(spark.sql("SELECT count(*) FROM gtag.t VERSION AS OF 'training-v1'")
      .head.getLong(0) == 100)
    assert(spark.sql("SELECT count(*) FROM gtag.t").head.getLong(0) == 400)
    // t$tags exposes the mapping.
    val tags = spark.sql("SELECT tag, generation FROM gtag.`t$tags`")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tags == Map("training-v1" -> 1L))
    // Expiry keeps the TAGGED generation (and its files) while dropping
    // the untagged ones past the keep window.
    spark.sql("CALL gtag.system.expire_snapshots('t', 1)")
    assert(spark.sql("SELECT count(*) FROM gtag.t VERSION AS OF 'training-v1'")
      .head.getLong(0) == 100,
      "a tagged generation must survive expire_snapshots")
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM gtag.t VERSION AS OF 2").collect()
    }
    // Dropping the tag releases it: the next expiry collects gen 1.
    spark.sql("CALL gtag.system.drop_tag('t', 'training-v1')")
    spark.sql("CALL gtag.system.expire_snapshots('t', 1)")
    intercept[Exception] {
      spark.sql(
        "SELECT count(*) FROM gtag.t VERSION AS OF 'training-v1'").collect()
    }
    assert(spark.sql("SELECT count(*) FROM gtag.t").head.getLong(0) == 400)
    // Unknown tags fail with the available list.
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM gtag.t VERSION AS OF 'nope'").collect()
    }
    assert(err.getMessage.contains("no tag"), err.getMessage)
    spark.sql("DROP TABLE gtag.t")
  }

  test("branches: isolated writes, atomic fast-forward, loud divergence") {
    import org.apache.spark.sql.types._
    val wh = Files.createTempDirectory("graft_branch").toString
    spark.conf.set("spark.sql.catalog.gbr", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gbr.base", wh)
    spark.sql("CREATE TABLE gbr.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gbr.t SELECT id, id FROM range(100)") // gen 1
    spark.sql("CALL gbr.system.create_branch('t', 'audit')")
    val dir = java.nio.file.Paths.get(wh, "t").toString
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType)))
    // Write to the BRANCH: an append plus a copy-on-write upsert — the
    // parent must see none of it.
    spark.range(100, 150).selectExpr("id", "id AS v")
      .write.format("graft.sources.ManifestSink")
      .option("path", dir).option("branch", "audit").mode("append").save()
    graft.sources.ManifestOps.mergeInto(spark, s"$dir/_branch_audit",
      spark.range(0, 10).selectExpr("id", "id * 100 AS v"), "id")
    assert(spark.sql("SELECT count(*) FROM gbr.t").head.getLong(0) == 100,
      "parent must not see branch writes")
    assert(spark.sql("SELECT sum(v) FROM gbr.t WHERE id < 10")
      .head.getLong(0) == 45, "parent values untouched")
    val branch = spark.read.format("graft.sources.ManifestSink")
      .schema(sch).option("path", dir).option("branch", "audit").load()
    assert(branch.count() == 150)
    // SQL reads the branch's CURRENT state through the shared ref
    // namespace (the Iceberg spelling).
    assert(spark.sql("SELECT count(*) FROM gbr.t VERSION AS OF 'audit'")
      .head.getLong(0) == 150)
    // Audit passed: fast-forward publishes the branch state atomically.
    spark.sql("CALL gbr.system.fast_forward('t', 'audit')")
    val rows = spark.sql("SELECT id, v FROM gbr.t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 150)
    assert(rows(5L) == 500 && rows(50L) == 50 && rows(120L) == 120)
    spark.sql("CALL gbr.system.drop_branch('t', 'audit')")
    // Divergence: the parent advances after the fork -> refuse loudly.
    spark.sql("CALL gbr.system.create_branch('t', 'stale')")
    spark.sql("INSERT INTO gbr.t VALUES (999, 999)")
    val err = intercept[Exception] {
      spark.sql("CALL gbr.system.fast_forward('t', 'stale')").collect()
    }
    assert(err.getMessage != null && (err.getMessage.contains("advanced") ||
      (err.getCause != null && err.getCause.getMessage.contains("advanced"))),
      s"wrong refusal: ${err.getMessage}")
    spark.sql("CALL gbr.system.drop_branch('t', 'stale')")
    assert(spark.sql("SELECT count(*) FROM gbr.t").head.getLong(0) == 151)
    spark.sql("DROP TABLE gbr.t")
  }

  test("branches compose with streaming: a tail follows the branch, not main") {
    import org.apache.spark.sql.types._
    val wh = Files.createTempDirectory("graft_brstream").toString
    spark.conf.set("spark.sql.catalog.gbs", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gbs.base", wh)
    spark.sql("CREATE TABLE gbs.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gbs.t SELECT id, id FROM range(30)")
    spark.sql("CALL gbs.system.create_branch('t', 'dev')")
    val dir = java.nio.file.Paths.get(wh, "t").toString
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType)))
    // Branch-only append; main also advances (divergence is fine for a
    // READER — only fast-forward cares).
    spark.range(30, 50).selectExpr("id", "id AS v")
      .write.format("graft.sources.ManifestSink")
      .option("path", dir).option("branch", "dev").mode("append").save()
    spark.sql("INSERT INTO gbs.t SELECT id, -id FROM range(100, 110)")
    // The branch tail sees the fork's content + branch appends — none
    // of main's post-fork rows.
    val q = spark.readStream.format("graft.sources.ManifestSink")
      .schema(sch).option("path", dir).option("branch", "dev").load()
      .writeStream.format("memory").queryName("br_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val ids = spark.table("br_tail").collect().map(_.getLong(0)).toSet
      assert(ids == (0L until 50L).toSet,
        s"branch tail must see fork + branch appends only: ${ids.size}")
    } finally q.stop()
    spark.sql("CALL gbs.system.drop_branch('t', 'dev')")
    spark.sql("DROP TABLE gbs.t")
  }

  test("restore: write-audit-publish rollback to a tagged generation") {
    val wh = Files.createTempDirectory("graft_restore").toString
    spark.conf.set("spark.sql.catalog.grst", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grst.base", wh)
    spark.sql("""CREATE TABLE grst.t (id BIGINT, v BIGINT)
      TBLPROPERTIES ('deletionVectors'='true')""")
    spark.sql("INSERT INTO grst.t SELECT id, id FROM range(100)") // gen 1
    spark.sql("CALL grst.system.create_tag('t', 'pre-load')")
    // The "bad load": an append AND a DV delete corrupt the table.
    spark.sql("INSERT INTO grst.t SELECT id, -1 FROM range(100, 160)") // gen 2
    spark.sql("DELETE FROM grst.t WHERE id % 4 = 1") // gen 3
    assert(spark.sql("SELECT count(*) FROM grst.t").head.getLong(0) == 120)
    // Audit failed -> restore the tag. History moves FORWARD.
    val r = spark.sql("CALL grst.system.restore('t', 'pre-load')").head
    assert(r.getLong(0) == 1 && r.getLong(1) == 4, s"$r")
    val rows = spark.sql("SELECT id, v FROM grst.t").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(rows == (0L until 100L).map(i => i -> i).toMap,
      "restore must reproduce the tagged state exactly")
    // The restored-FROM (bad) state stays reachable: a mistaken
    // restore is itself restorable.
    assert(spark.sql("SELECT count(*) FROM grst.t VERSION AS OF 3")
      .head.getLong(0) == 120)
    spark.sql("CALL grst.system.restore('t', '3')")
    assert(spark.sql("SELECT count(*) FROM grst.t").head.getLong(0) == 120)
    // The table stays fully writable after restores.
    spark.sql("INSERT INTO grst.t VALUES (999, 999)")
    assert(spark.sql("SELECT count(*) FROM grst.t").head.getLong(0) == 121)
    spark.sql("DROP TABLE grst.t")
  }

  test("compaction preserves tagged snapshots: originals stay until expiry") {
    val wh = Files.createTempDirectory("graft_tagcompact").toString
    spark.conf.set("spark.sql.catalog.gtc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtc.base", wh)
    spark.sql("""CREATE TABLE gtc.t (id BIGINT, v BIGINT)
      TBLPROPERTIES ('retainHistory'='true')""")
    (0 until 3).foreach(k => spark.sql(
      s"INSERT INTO gtc.t SELECT id, id FROM range(${k * 10}, ${k * 10 + 10})"))
    spark.sql("CALL gtc.system.create_tag('t', 'v2')") // gen 3 state, 30 rows
    spark.sql("INSERT INTO gtc.t SELECT id, id FROM range(30, 40)") // gen 4
    // Compaction merges everything — but the tagged snapshot's files
    // must SURVIVE (deferred GC on retained tables), so the tag keeps
    // reading exactly its state.
    assert(spark.sql("CALL gtc.system.compact('t', 1000)").head.getInt(0) >= 4)
    assert(spark.sql("SELECT count(*) FROM gtc.t").head.getLong(0) == 40)
    assert(spark.sql("SELECT count(*) FROM gtc.t VERSION AS OF 'v2'")
      .head.getLong(0) == 30,
      "compaction must not invalidate a tagged snapshot")
    // Expiry keeps the tag; dropping it releases the originals.
    spark.sql("CALL gtc.system.expire_snapshots('t', 1)")
    assert(spark.sql("SELECT count(*) FROM gtc.t VERSION AS OF 'v2'")
      .head.getLong(0) == 30)
    spark.sql("CALL gtc.system.drop_tag('t', 'v2')")
    val (gone, _) = graft.sources.ManifestSink.expireSnapshots(
      java.nio.file.Paths.get(wh, "t").toString, keepLast = 1)
    assert(gone >= 3, s"dropped tag releases the merged-away originals: $gone")
    assert(spark.sql("SELECT count(*) FROM gtc.t").head.getLong(0) == 40)
    spark.sql("DROP TABLE gtc.t")
  }

  test("GraftCatalog namespaces: CREATE/SHOW/ALTER/DROP SCHEMA round-trip") {
    val wh = Files.createTempDirectory("graft_ns").toString
    spark.conf.set("spark.sql.catalog.gns", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gns.base", wh)
    spark.sql("CREATE NAMESPACE gns.raw COMMENT 'bronze layer'")
    spark.sql("CREATE NAMESPACE gns.curated")
    val names = spark.sql("SHOW NAMESPACES IN gns")
      .collect().map(_.getString(0)).toSet
    assert(names == Set("raw", "curated"), s"got $names")
    // Tables land inside a declared namespace and list under it.
    spark.sql("CREATE TABLE gns.raw.docs (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gns.raw.docs VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql("SHOW TABLES IN gns.raw").collect()
      .map(_.getString(1)).toSet == Set("docs"))
    assert(spark.sql("SELECT count(*) FROM gns.raw.docs").head.getLong(0) == 2)
    // Namespace properties round-trip through ALTER.
    spark.sql("ALTER NAMESPACE gns.curated SET PROPERTIES ('owner_team'='data')")
    val desc = spark.sql("DESCRIBE NAMESPACE EXTENDED gns.curated")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.exists(_._2.contains("owner_team")) ||
      desc.values.exists(_.contains("data")), s"got $desc")
    // Empty namespace drops plainly; a populated one needs CASCADE.
    spark.sql("DROP NAMESPACE gns.curated")
    intercept[Exception] { spark.sql("DROP NAMESPACE gns.raw") }
    spark.sql("DROP NAMESPACE gns.raw CASCADE")
    assert(spark.sql("SHOW NAMESPACES IN gns").collect().isEmpty)
  }

  test("distributionMode=hash clusters writes by partition tuple: one file each") {
    val wh = Files.createTempDirectory("graft_dist").toString
    spark.conf.set("spark.sql.catalog.gdist", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdist.base", wh)
    // Without the property: one file per (task x bucket) — the
    // documented small-files footgun.
    spark.sql("""CREATE TABLE gdist.plain (id BIGINT, v BIGINT)
      PARTITIONED BY (bucket(4, id))""")
    spark.sql("""INSERT INTO gdist.plain
      SELECT /*+ REPARTITION(4) */ id, id FROM range(400)""")
    val plainFiles = graft.sources.ManifestSink
      .committedFiles(java.nio.file.Paths.get(wh, "plain").toString).size
    assert(plainFiles > 4, s"unclustered write fans out: $plainFiles files")
    // With it: the WRITE declares a required clustering by the bucket
    // transform, Spark shuffles rows to co-locate tuples, and each
    // bucket lands as ONE file regardless of upstream parallelism.
    spark.sql("""CREATE TABLE gdist.hash (id BIGINT, v BIGINT)
      PARTITIONED BY (bucket(4, id))
      TBLPROPERTIES ('distributionMode'='hash')""")
    spark.sql("""INSERT INTO gdist.hash
      SELECT /*+ REPARTITION(4) */ id, id FROM range(400)""")
    val hashFiles = graft.sources.ManifestSink
      .committedFiles(java.nio.file.Paths.get(wh, "hash").toString).size
    assert(hashFiles == 4, s"clustered write: one file per bucket, got $hashFiles")
    assert(spark.sql("SELECT count(*) FROM gdist.hash").head.getLong(0) == 400)
    assert(spark.sql(
      "SELECT count(DISTINCT id) FROM gdist.hash").head.getLong(0) == 400)
    spark.sql("DROP TABLE gdist.plain")
    spark.sql("DROP TABLE gdist.hash")
  }

  test("GraftCatalog CTAS/RTAS: CREATE TABLE AS SELECT lands as a manifest table") {
    val wh = Files.createTempDirectory("graft_ctas").toString
    spark.conf.set("spark.sql.catalog.gcts", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcts.base", wh)
    spark.sql("""CREATE TABLE gcts.t AS
      SELECT id, id * 2 AS v, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g
      FROM range(100)""")
    assert(spark.sql("SELECT count(*) FROM gcts.t").head.getLong(0) == 100)
    assert(spark.sql("SELECT sum(v) FROM gcts.t").head.getLong(0) == 9900)
    // The created table is a full manifest table: DML works on it.
    spark.sql("DELETE FROM gcts.t WHERE g = 'a'")
    assert(spark.sql("SELECT count(*) FROM gcts.t").head.getLong(0) == 50)
    // Partitioned CTAS records the partition columns in table metadata.
    spark.sql("""CREATE TABLE gcts.p PARTITIONED BY (g) AS
      SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g
      FROM range(50)""")
    val parts = spark.sql("SELECT partition FROM gcts.`p$partitions`")
      .collect().map(_.getString(0)).toSet
    assert(parts == Set("g=\"a\"", "g=\"b\""),
      s"partitioned CTAS must land partition-aligned: $parts")
    // REPLACE TABLE AS SELECT swaps content atomically.
    spark.sql("CREATE OR REPLACE TABLE gcts.t AS SELECT id FROM range(7)")
    assert(spark.sql("SELECT count(*) FROM gcts.t").head.getLong(0) == 7)
    Seq("t", "p").foreach(t => spark.sql(s"DROP TABLE gcts.$t"))
  }

  test("manifest tables: dynamic partition overwrite replaces only written partitions") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft_dynovr").toString
    spark.conf.set("spark.sql.catalog.gdyn", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdyn.base", wh)
    spark.sql("""CREATE TABLE gdyn.t (id BIGINT, lang STRING, v BIGINT)
      PARTITIONED BY (lang)""")
    spark.sql("""INSERT INTO gdyn.t
      SELECT id, CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'de'
        ELSE 'fr' END, id * 10 FROM range(300)""")
    val dir = java.nio.file.Paths.get(wh, "t").toString
    val before = graft.sources.ManifestSink.committedFiles(dir).toSet
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // Overwrite ONLY 'en' (new values); 'de'/'fr' files must carry
      // over untouched.
      spark.sql("""INSERT OVERWRITE gdyn.t
        SELECT id, 'en', id * 100 FROM range(0, 300, 3)""")
    } finally spark.conf.set(
      "spark.sql.sources.partitionOverwriteMode", prevMode)
    val after = graft.sources.ManifestSink.committedFiles(dir).toSet
    assert((before intersect after).nonEmpty,
      "untouched partitions' files must carry over")
    val rows = spark.sql("SELECT id, lang, v FROM gdyn.t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.length == 300)
    assert(rows.filter(_._2 == "en").forall(r => r._3 == r._1 * 100),
      "'en' partition fully replaced with new values")
    assert(rows.filter(_._2 != "en").forall(r => r._3 == r._1 * 10),
      "'de'/'fr' partitions untouched")
    // Static mode (the default) still truncates the whole table.
    spark.sql("INSERT OVERWRITE gdyn.t SELECT 1L, 'xx', 1L")
    assert(spark.sql("SELECT count(*) FROM gdyn.t").head.getLong(0) == 1)
    // Unpartitioned tables refuse dynamic overwrite up front.
    spark.sql("CREATE TABLE gdyn.u (id BIGINT, v BIGINT)")
    val err = intercept[Exception] {
      val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      try {
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        spark.sql("INSERT OVERWRITE gdyn.u SELECT 1L, 2L")
      } finally spark.conf.set(
        "spark.sql.sources.partitionOverwriteMode", prev)
    }
    assert(err.getMessage != null)
    spark.sql("DROP TABLE gdyn.t")
    spark.sql("DROP TABLE gdyn.u")
  }

  test("scan custom metrics: filesRead/filesSkipped/dvRowsSkipped surface in the plan") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft_metrics").toString
    spark.conf.set("spark.sql.catalog.gmet", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmet.base", wh)
    spark.sql("""CREATE TABLE gmet.t (id BIGINT, v BIGINT)
      TBLPROPERTIES ('deletionVectors'='true')""")
    spark.range(0, 1000).selectExpr("id", "id * 2 AS v")
      .repartitionByRange(4, col("id")).writeTo("gmet.t").append()
    spark.sql("DELETE FROM gmet.t WHERE id >= 100 AND id <= 104")
    // A pruned scan: bounds prove 3 of 4 files irrelevant; the read
    // file's vector suppresses the 5 deleted rows.
    val q = spark.sql("SELECT id FROM gmet.t WHERE id BETWEEN 0 AND 249")
    assert(q.collect().length == 245)
    val scan = q.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(scan.metrics("filesRead").value == 1, scan.metrics("filesRead"))
    assert(scan.metrics("filesSkipped").value == 3, scan.metrics("filesSkipped"))
    assert(scan.metrics("dvRowsSkipped").value == 5,
      scan.metrics("dvRowsSkipped"))
    spark.sql("DROP TABLE gmet.t")
  }

  test("partition-spec evolution: each era prunes under its own spec; no rewrites") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft_pse").toString
    spark.conf.set("spark.sql.catalog.gpse", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gpse.base", wh)
    spark.sql("CREATE TABLE gpse.t (id BIGINT, lang STRING) PARTITIONED BY (lang)")
    // ERA 1 under identity(lang): 3 files, one per language, each
    // spanning the full id range (so id predicates cannot prune them
    // by bounds — isolates the spec-based pruning below).
    spark.range(0, 300)
      .selectExpr("id", "CASE id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'de' ELSE 'fr' END AS lang")
      .repartition(col("lang")).writeTo("gpse.t").append()
    val dir = java.nio.file.Paths.get(wh, "t").toString
    val era1 = graft.sources.ManifestSink.committedFiles(dir).toSet
    assert(era1.size == 3, s"one file per language: $era1")
    // EVOLVE: identity(lang) -> bucket(4,id). Metadata only.
    val r = spark.sql(
      "CALL gpse.system.replace_partition_spec('t', 'bucket(4,id)')").head
    assert(r.getString(0) == "lang" && r.getString(1) == "bucket(4,id)", s"$r")
    // ERA 2 under bucket(4,id): one task -> one file per bucket, each
    // spanning ids 300..599 with interleaved langs.
    spark.range(300, 600)
      .selectExpr("id", "CASE id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'de' ELSE 'fr' END AS lang")
      .coalesce(1).writeTo("gpse.t").append()
    val all = graft.sources.ManifestSink.committedFiles(dir).toSet
    assert(era1.subsetOf(all), "evolution must never rewrite old files")
    assert((all -- era1).size == 4, s"era 2 = one file per bucket: ${all -- era1}")

    def scanMetrics(sql: String): (Long, Long, Long) = {
      val q = spark.sql(sql)
      val n = q.collect().length.toLong
      val scan = q.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
      (n, scan.metrics("filesRead").value, scan.metrics("filesSkipped").value)
    }
    // OLD-ERA pruning survives the evolution: lang equality keeps one
    // era-1 file (min == max bounds) and skips the other two; era-2
    // files interleave langs, so their bounds keep them (conservative).
    val (nLang, readLang, skipLang) =
      scanMetrics("SELECT id FROM gpse.t WHERE lang = 'en'")
    assert(nLang == 200, s"100 era-1 + 100 era-2 en rows: $nLang")
    assert(skipLang == 2 && readLang == 5, s"read $readLang skip $skipLang")
    // NEW-ERA pruning under the new spec: a point id in era 2 prunes
    // era-1 files by bounds AND 3 of the 4 era-2 files by bucket id.
    val (nId, readId, skipId) =
      scanMetrics("SELECT lang FROM gpse.t WHERE id = 442")
    // (era-1 files vanish at SEGMENT level — their segment's summary
    // bounds exclude the id — so only era-2's 4 files reach entry
    // pruning, where the bucket id skips 3.)
    assert(nId == 1 && readId == 1 && skipId >= 3,
      s"read $readId skip $skipId")
    // A SECOND evolution (bucket(4,id) -> bucket(8,id)) must not break
    // era-2 pruning: each file prunes under the spec IT recorded, not
    // the table's current one.
    spark.sql("CALL gpse.system.replace_partition_spec('t', 'bucket(8,id)')")
    val (nId2, readId2, skipId2) =
      scanMetrics("SELECT lang FROM gpse.t WHERE id = 442")
    assert(nId2 == 1 && readId2 == 1 && skipId2 >= 3,
      s"era-2 files must keep pruning under bucket(4,id): " +
        s"read $readId2 skip $skipId2")
    // add/drop field variants compose with the same metadata.
    val added = spark.sql(
      "CALL gpse.system.add_partition_field('t', 'lang')").head
    assert(added.getString(1) == "bucket(8,id),lang", s"$added")
    val dropped = spark.sql(
      "CALL gpse.system.drop_partition_field('t', 'bucket(8,id)')").head
    assert(dropped.getString(1) == "lang", s"$dropped")
    assert(spark.sql("SELECT count(*) FROM gpse.t").head.getLong(0) == 600)
    spark.sql("DROP TABLE gpse.t")
  }

  test("equality deletes: O(tombstones) commit with no target scan; seq rule; compaction materializes") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_eqdel").toString
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType)))
    spark.range(0, 100).selectExpr("id", "id * 2 AS v")
      .repartitionByRange(2, col("id"))
      .write.format("graft.sources.ManifestSink")
      .option("path", dir).mode("append").save() // gen 1, 2 files
    val dataFiles = graft.sources.ManifestSink.committedFiles(dir)
    assert(dataFiles.size == 2)
    // NO-SCAN PIN: hide every data file during the delete commit — an
    // implementation that scanned the target to find matches would
    // throw; the equality-delete write must touch only the keys.
    val dirPath = java.nio.file.Paths.get(dir)
    dataFiles.foreach(n => Files.move(dirPath.resolve(n),
      dirPath.resolve(n + ".hidden")))
    val n = graft.sources.ManifestOps.equalityDelete(dir,
      spark.range(0, 100).filter("id = 3 OR id = 7").select(col("id"))) // gen 2
    assert(n == 2)
    dataFiles.foreach(n => Files.move(dirPath.resolve(n + ".hidden"),
      dirPath.resolve(n)))
    def readIds(): Set[Long] = spark.read
      .format("graft.sources.ManifestSink").schema(sch)
      .option("path", dir).load().collect().map(_.getLong(0)).toSet
    assert(readIds() == (0L until 100L).toSet -- Set(3L, 7L))
    // UNPROJECTED-KEY PIN: the projection-aware reader must still parse
    // the tombstone's key columns when the query never selects them —
    // a v-only aggregate (and a count(*) with an EMPTY read schema)
    // both honor the id-keyed deletes.
    locally {
      val vOnly = spark.read.format("graft.sources.ManifestSink").schema(sch)
        .option("path", dir).load().select("v")
      assert(vOnly.count() == 98, "eq keys must apply when unprojected")
      assert(vOnly.agg(sum(col("v"))).head.getLong(0) ==
        (0L until 100L).filterNot(Set(3L, 7L)).map(_ * 2).sum)
    }
    // eqRowsSkipped metric surfaces what the tombstones suppressed.
    val q = spark.read.format("graft.sources.ManifestSink").schema(sch)
      .option("path", dir).load()
    assert(q.collect().length == 98)
    val scan = q.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(scan.metrics("eqRowsSkipped").value == 2,
      scan.metrics("eqRowsSkipped"))
    // SEQ RULE (the CDC upsert shape): a LATER re-insert of a deleted
    // key survives its key's tombstone — the new file's commit seq is
    // newer than the delete's.
    spark.range(3, 4).selectExpr("id", "id * 1000 AS v")
      .write.format("graft.sources.ManifestSink")
      .option("path", dir).mode("append").save() // gen 3
    assert(readIds() == (0L until 100L).toSet - 7L)
    assert(spark.read.format("graft.sources.ManifestSink").schema(sch)
      .option("path", dir).load().where("id = 3").head.getLong(1) == 3000L,
      "the re-inserted row, not the tombstoned one")
    // A second tombstone batch stacks.
    assert(graft.sources.ManifestOps.equalityDelete(dir,
      spark.range(50, 52).toDF("id")) == 2) // gen 4
    assert(readIds() == (0L until 100L).toSet -- Set(7L, 50L, 51L))
    assert(graft.sources.ManifestSink.committedEqDeleteNames(dir).size == 2)
    // COMPACTION materializes the applicable tombstones exactly once:
    // merged files carry live rows only, every tombstone retires (no
    // remaining file predates them), and the read is unchanged.
    val before = readIds()
    assert(graft.sources.ManifestSink.compact(dir, targetRows = 100000L) >= 2)
    assert(graft.sources.ManifestSink.committedEqDeleteNames(dir).isEmpty,
      "materialized tombstones must retire")
    assert(readIds() == before)
    assert(graft.sources.ManifestSink.committedRowCount(dir) == 97L,
      "merged entries count exact live rows")
    // The tombstone FILES left the directory with their entries.
    val ls = Files.list(dirPath)
    val leftover = try {
      val it = ls.iterator(); val b = Seq.newBuilder[String]
      while (it.hasNext) { val nm = it.next().getFileName.toString
        if (nm.startsWith("eqdel-")) b += nm }
      b.result()
    } finally ls.close()
    assert(leftover.isEmpty, s"$leftover")
  }

  test("equality deletes: plain tails refuse a tombstone window; the change feed EMITS it") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_eqdel_stream").toString
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType)))
    def append(lo: Long, hi: Long): Unit =
      spark.range(lo, hi).selectExpr("id", "id AS v").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", dir).option("retainHistory", "true")
        .mode("append").save()
    append(0, 10) // gen 1
    graft.sources.ManifestOps.equalityDelete(dir,
      spark.range(2, 4).toDF("id"), retain = true) // gen 2
    append(10, 20) // gen 3
    // Window (1, 3] crosses the tombstone commit: a plain append-only
    // tail refuses loudly (it cannot represent a delete)...
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val e = intercept[Exception] {
      spark.read.format("graft.sources.ManifestSink")
        .schema(sch).option("path", dir)
        .option("startingVersion", "1").option("endingVersion", "3")
        .load().collect()
    }
    assert(messages(e).exists(_.contains("equality-delete set")),
      s"${messages(e)}")
    // ...but the CHANGE FEED represents it: the tombstone's affected
    // rows (reconstructed from the predating files, full payload) emit
    // as _change_type='delete', the appended files as 'insert'.
    val cdfSchema = StructType(sch.fields :+
      StructField("_change_type", StringType))
    val changes = spark.read.format("graft.sources.ManifestSink")
      .schema(cdfSchema).option("path", dir)
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "3")
      .load().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val deletes = changes.filter(_._3 == "delete")
    val inserts = changes.filter(_._3 == "insert")
    assert(deletes.toSet == Set((2L, 2L, "delete"), (3L, 3L, "delete")),
      s"tombstone rows with FULL payload: ${deletes.mkString(", ")}")
    assert(inserts.map(_._1).toSet == (10L until 20L).toSet,
      s"${inserts.mkString(", ")}")
    // REPLAY reconstructs the table: state(1) + window changes == state(3).
    val state1 = (0L until 10L).toSet
    val replayed = state1 -- deletes.map(_._1) ++ inserts.map(_._1)
    val state3 = spark.read.format("graft.sources.ManifestSink")
      .schema(sch).option("path", dir).load()
      .collect().map(_.getLong(0)).toSet
    assert(replayed == state3, s"replay drifted: $replayed vs $state3")
    // A second tombstone AFTER a matching re-insert: the delete legs
    // honor the seq rule — only rows the tombstone actually applied to
    // emit (id=5 from gen 1; the gen-3 re-appended 15 predates gen 4's
    // tombstone too, so both emit; a LATER append of 5 would not).
    graft.sources.ManifestOps.equalityDelete(dir,
      spark.range(0, 20).filter("id = 5 OR id = 15").toDF("id"),
      retain = true) // gen 4
    val w34 = spark.read.format("graft.sources.ManifestSink")
      .schema(cdfSchema).option("path", dir)
      .option("readChangeFeed", "true")
      .option("startingVersion", "3").option("endingVersion", "4")
      .load().collect()
      .map(r => (r.getLong(0), r.getString(2)))
    assert(w34.toSet == Set((5L, "delete"), (15L, "delete")), s"${w34.mkString(", ")}")
    // NET semantics across a wider window (2,4]: id 15 was inserted AND
    // tombstoned INSIDE the window — it was not visible at the start
    // and is not visible at the end, so the feed carries NO event for
    // it (the insert leg's end-state tombstones suppress it; the
    // delete leg only covers files in the START state). Already-dead
    // rows (2/3) never re-emit either.
    val w24 = spark.read.format("graft.sources.ManifestSink")
      .schema(cdfSchema).option("path", dir)
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").option("endingVersion", "4")
      .load().collect()
      .map(r => (r.getLong(0), r.getString(2)))
    assert(w24.filter(_._2 == "delete").toSet == Set((5L, "delete")),
      s"${w24.mkString(", ")}")
    assert(w24.filter(_._2 == "insert").map(_._1).toSet ==
      (10L until 20L).toSet - 15L, s"${w24.mkString(", ")}")
    // Replay of (2,4] from state(2) reconstructs state(4) exactly.
    val state2 = (0L until 10L).toSet -- Set(2L, 3L)
    val state4 = (0L until 20L).toSet -- Set(2L, 3L, 5L, 15L)
    assert(state2 -- w24.filter(_._2 == "delete").map(_._1) ++
      w24.filter(_._2 == "insert").map(_._1) == state4)
    // A window PAST the tombstone commit streams normally (new files
    // are never affected by older tombstones), and a FULL snapshot
    // batch (startingVersion 0-equivalent: plain read) applies them.
    val w23 = spark.read.format("graft.sources.ManifestSink")
      .schema(sch).option("path", dir)
      .option("startingVersion", "2").option("endingVersion", "3")
      .load().collect().map(_.getLong(0)).toSet
    assert(w23 == (10L until 20L).toSet)
    val full = spark.read.format("graft.sources.ManifestSink")
      .schema(sch).option("path", dir).load()
      .collect().map(_.getLong(0)).toSet
    assert(full == (0L until 20L).toSet -- Set(2L, 3L, 5L, 15L))
  }

  test("catalog views: CREATE/SELECT/SHOW/RENAME/DROP through the V2 ViewCatalog") {
    val wh = Files.createTempDirectory("graft_views").toString
    spark.conf.set("spark.sql.catalog.gvw", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gvw.base", wh)
    spark.sql("CREATE TABLE gvw.t (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO gvw.t SELECT id, id * 2 FROM range(100)")
    // The view persists the DEFINITION (late-bound): rows appended
    // after CREATE VIEW are visible through it.
    spark.sql("CREATE VIEW gvw.evens AS SELECT id, v FROM gvw.t WHERE id % 2 = 0")
    assert(spark.sql("SELECT count(*) FROM gvw.evens").head.getLong(0) == 50)
    spark.sql("INSERT INTO gvw.t SELECT id, id * 2 FROM range(100, 120)")
    assert(spark.sql("SELECT count(*) FROM gvw.evens").head.getLong(0) == 60,
      "views are late-bound, never a data copy")
    // Catalog listing + marker hygiene: a view is not a table and not
    // a namespace.
    val views = spark.sql("SHOW VIEWS IN gvw").collect().map(_.getString(1))
    assert(views.contains("evens"), views.mkString(", "))
    val tables = spark.sql("SHOW TABLES IN gvw").collect().map(_.getString(1))
    assert(!tables.contains("evens") || tables.contains("t"),
      tables.mkString(", "))
    assert(spark.sql("SHOW NAMESPACES IN gvw").collect()
      .forall(r => r.getString(0) != "evens"), "a view dir is not a namespace")
    // Rename + drop round-trip.
    spark.sql("ALTER VIEW gvw.evens RENAME TO gvw.evens2")
    assert(spark.sql("SELECT count(*) FROM gvw.evens2").head.getLong(0) == 60)
    spark.sql("DROP VIEW gvw.evens2")
    val gone = intercept[Exception] { spark.sql("SELECT * FROM gvw.evens2") }
    assert(gone.getMessage != null)
    spark.sql("DROP TABLE gvw.t")
  }

  test("view/table collision safety: CREATE VIEW refuses a table's name; DROP VIEW never touches table data") {
    val wh = Files.createTempDirectory("graft_viewsafe").toString
    val cat = "gvs_" + (wh.hashCode & 0x7fffffff)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", wh)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id FROM range(10)")
    // CREATE VIEW with an existing TABLE's name must refuse — before
    // the guard it wrote _view.json into the table dir (shadowing the
    // table) and a later DROP VIEW recursively deleted the whole dir:
    // data files, manifests, history, silently.
    val e = intercept[Exception] {
      spark.sql(s"CREATE VIEW $cat.t AS SELECT 1 AS one")
    }
    assert(e.getMessage != null)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 10)
    // Even with marker debris in the table dir (a pre-guard artifact or
    // manual write), DROP VIEW removes ONLY the marker: the table's
    // data and metadata survive.
    val tdir = java.nio.file.Paths.get(wh, "t")
    Files.write(tdir.resolve("_view.json"),
      "debris\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.sql(s"DROP VIEW IF EXISTS $cat.t")
    assert(!Files.exists(tdir.resolve("_view.json")), "marker removed")
    assert(Files.exists(tdir.resolve("_table.json")), "table meta intact")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 10,
      "table data intact after DROP VIEW")
    // RENAME VIEW onto a table's name refuses; renaming a real view
    // moves the marker only.
    spark.sql(s"CREATE VIEW $cat.v AS SELECT id FROM $cat.t WHERE id < 5")
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER VIEW $cat.v RENAME TO $cat.t")
    }
    assert(e2.getMessage != null)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 10)
    spark.sql(s"ALTER VIEW $cat.v RENAME TO $cat.v2")
    assert(spark.sql(s"SELECT count(*) FROM $cat.v2").head.getLong(0) == 5)
    spark.sql(s"DROP VIEW $cat.v2")
    spark.sql(s"DROP TABLE $cat.t")
  }

  test("equality deletes: key columns must exist in the table schema with matching types") {
    val wh = Files.createTempDirectory("graft_eqval").toString
    val cat = "gev_" + (wh.hashCode & 0x7fffffff)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", wh)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 2 FROM range(10)")
    val dir = java.nio.file.Paths.get(wh, "t").toString
    // Misspelled key column: eqKeyOf would read the missing key as null
    // on every data row — a tombstone that silently deletes nothing.
    val e1 = intercept[IllegalArgumentException] {
      graft.sources.ManifestOps.equalityDelete(dir,
        spark.range(3, 4).toDF("idd"))
    }
    assert(e1.getMessage.contains("idd"), e1.getMessage)
    // Type mismatch: DOUBLE renders '3.0', BIGINT column rows render
    // '3' — literals never match, again deleting nothing.
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.ManifestOps.equalityDelete(dir,
        spark.range(3, 4).selectExpr("CAST(id AS DOUBLE) AS id"))
    }
    assert(e2.getMessage.contains("DoubleType") ||
      e2.getMessage.contains("double"), e2.getMessage)
    // The matching-type delete still works, and the table is intact.
    assert(graft.sources.ManifestOps.equalityDelete(dir,
      spark.range(3, 4).toDF("id")) == 1)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 9)
    spark.sql(s"DROP TABLE $cat.t")
  }

  test("equality deletes keyed on a nested LEAF: dotted path resolves, " +
      "delete -> re-insert seq semantics, rename interplay") {
    val wh = Files.createTempDirectory("graft_eqleaf").toString
    val cat = "gel_" + (wh.hashCode & 0x7fffffff)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", wh)
    spark.sql(s"""CREATE TABLE $cat.t (row_id BIGINT,
      profile STRUCT<doc_id: BIGINT, lang: STRING>)""")
    spark.sql(s"""INSERT INTO $cat.t SELECT id,
      named_struct('doc_id', id + 100, 'lang',
        CASE WHEN id % 2 = 0 THEN 'en' ELSE 'fr' END) FROM range(10)""")
    val dir = java.nio.file.Paths.get(wh, "t").toString
    // Validation: unknown leaf path and leaf-type mismatch refuse.
    val e1 = intercept[IllegalArgumentException] {
      graft.sources.ManifestOps.equalityDelete(dir,
        spark.range(1).selectExpr("id AS `profile.nope`"))
    }
    assert(e1.getMessage.contains("profile.nope"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.ManifestOps.equalityDelete(dir,
        spark.range(1).selectExpr("CAST(103 AS DOUBLE) AS `profile.doc_id`"))
    }
    assert(e2.getMessage.contains("double") ||
      e2.getMessage.contains("Double"), e2.getMessage)
    // The dotted-key tombstone drops exactly the matching-leaf rows.
    assert(graft.sources.ManifestOps.equalityDelete(dir,
      spark.createDataFrame(Seq(Tuple1(103L), Tuple1(105L)))
        .toDF("profile.doc_id")) == 2)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 8)
    assert(spark.sql(
        s"SELECT count(*) FROM $cat.t WHERE profile.doc_id = 103").head
      .getLong(0) == 0)
    // SEQ semantics: a LATER re-insert of a deleted leaf id survives
    // (the tombstone applies only to files committed before it).
    spark.sql(s"""INSERT INTO $cat.t VALUES
      (3, named_struct('doc_id', 103L, 'lang', 'de'))""")
    val back = spark.sql(
      s"SELECT profile.lang FROM $cat.t WHERE profile.doc_id = 103").collect()
    assert(back.map(_.getString(0)).toSeq == Seq("de"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 9)
    // Composite top-level + leaf key.
    assert(graft.sources.ManifestOps.equalityDelete(dir,
      spark.sql("SELECT CAST(4 AS BIGINT) AS row_id, " +
        "CAST(104 AS BIGINT) AS `profile.doc_id`")) == 1)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 8)
    // RENAME of the head struct after the tombstone: pre-rename data
    // lines carry the old head key — the leaf extraction resolves both
    // spellings, so old tombstones keep applying and new scans agree.
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN profile TO person")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 8)
    assert(spark.sql(
        s"SELECT count(*) FROM $cat.t WHERE person.doc_id = 105").head
      .getLong(0) == 0)
    spark.sql(s"DROP TABLE $cat.t")
  }

  test("incremental MV: refresh folds ONLY the base delta; fold equals full recompute") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft_mv").toString
    spark.conf.set("spark.sql.catalog.gmv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmv.base", wh)
    spark.sql("""CREATE TABLE gmv.base (g STRING, v BIGINT)
      TBLPROPERTIES ('retainHistory'='true')""")
    spark.sql("""INSERT INTO gmv.base
      SELECT CASE id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END, id
      FROM range(300)""") // gen 1
    graft.sources.MaterializedViews.createAvg(spark, "gmv", "stats",
      "base", "base_mv", "g", "v")
    def viewRows(): Map[String, (Long, Long, Long)] =
      spark.sql("SELECT g, sum_v, cnt_v, avg_v FROM gmv.stats").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
    def truth(): Map[String, (Long, Long, Long)] =
      spark.sql("""SELECT g, sum(v), count(v), sum(v) DIV count(v)
        FROM gmv.base GROUP BY g""").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
    assert(viewRows() == truth())
    // Append a delta, then PIN the O(delta) refresh: hide every era-1
    // base file — a refresh that read anything but the delta would
    // throw.
    val baseDir = java.nio.file.Paths.get(wh, "base")
    val era1 = graft.sources.ManifestSink.committedFiles(baseDir.toString)
    spark.sql("""INSERT INTO gmv.base
      SELECT CASE id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END, id * 7
      FROM range(1000, 1200)""") // gen 2
    era1.foreach(n => Files.move(baseDir.resolve(n),
      baseDir.resolve(n + ".hidden")))
    val (from, to) = graft.sources.MaterializedViews.refresh(
      spark, "gmv", "base_mv")
    assert(from == 1L && to == 2L, s"$from -> $to")
    era1.foreach(n => Files.move(baseDir.resolve(n + ".hidden"),
      baseDir.resolve(n)))
    assert(viewRows() == truth(), "fold of partials == full recompute")
    // Idempotent when fresh: no generation published, no delta planned.
    assert(graft.sources.MaterializedViews.refresh(spark, "gmv", "base_mv")
      == ((2L, 2L)))
    // The partial log has one batch per refresh; compaction keeps it
    // bounded without changing the fold.
    graft.sources.ManifestSink.compact(
      java.nio.file.Paths.get(wh, "base_mv").toString, 100000L)
    assert(viewRows() == truth())
    spark.sql("DROP VIEW gmv.stats")
    spark.sql("DROP TABLE gmv.base_mv")
    spark.sql("DROP TABLE gmv.base")
  }

  test("MV refresh exactly-once: a crash between append and watermark swap never double-counts") {
    val wh = Files.createTempDirectory("graft_mvcrash").toString
    val cat = "gmvc_" + (wh.hashCode & 0x7fffffff)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", wh)
    spark.sql(s"""CREATE TABLE $cat.base (g STRING, v BIGINT)
      TBLPROPERTIES ('retainHistory'='true')""")
    spark.sql(s"""INSERT INTO $cat.base
      SELECT CASE id % 2 WHEN 0 THEN 'x' ELSE 'y' END, id FROM range(100)""")
    graft.sources.MaterializedViews.createAvg(spark, cat, "stats",
      "base", "base_mv", "g", "v")
    def viewRows(): Map[String, (Long, Long)] =
      spark.sql(s"SELECT g, sum_v, cnt_v FROM $cat.stats").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def truth(): Map[String, (Long, Long)] =
      spark.sql(s"SELECT g, sum(v), count(v) FROM $cat.base GROUP BY g")
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // Delta lands; the refresh dies AT THE CRASH SITE: partial batch
    // appended, mv.gen property never advanced.
    spark.sql(s"""INSERT INTO $cat.base
      SELECT CASE id % 2 WHEN 0 THEN 'x' ELSE 'y' END, id * 3
      FROM range(500, 700)""") // base gen 2
    val boom = intercept[IllegalStateException] {
      graft.sources.MaterializedViews.refresh(spark, cat, "base_mv",
        crashAfterAppend = true)
    }
    assert(boom.getMessage.contains("simulated crash"), boom.getMessage)
    val mvDir = java.nio.file.Paths.get(wh, "base_mv")
    def mvGenProp(): String = {
      val txt = new String(Files.readAllBytes(mvDir.resolve("_table.json")),
        java.nio.charset.StandardCharsets.UTF_8)
      "\"mv.gen\":\"(\\d+)\"".r.findFirstMatchIn(txt).get.group(1)
    }
    assert(mvGenProp() == "1",
      s"property must be stale after the crash: ${mvGenProp()}")
    // The append itself landed, so the fold is ALREADY exact...
    assert(viewRows() == truth(), "partial landed; fold exact")
    // ...and the REPLAYED refresh recovers the watermark from its own
    // commit tag: it folds NOTHING twice (from == to == 2) and heals
    // the property. Before the fix this re-appended the gen-2 delta
    // and silently double-counted.
    val (from, to) = graft.sources.MaterializedViews.refresh(
      spark, cat, "base_mv")
    assert((from, to) == ((2L, 2L)), s"replay must no-op: $from -> $to")
    assert(mvGenProp() == "2", "replay heals the stale property")
    assert(viewRows() == truth(), "each base row folded exactly once")
    // Life goes on: a further delta refreshes normally.
    spark.sql(s"""INSERT INTO $cat.base
      SELECT CASE id % 2 WHEN 0 THEN 'x' ELSE 'y' END, id * 5
      FROM range(900, 950)""") // base gen 3
    assert(graft.sources.MaterializedViews.refresh(spark, cat, "base_mv")
      == ((2L, 3L)))
    assert(viewRows() == truth())
    spark.sql(s"DROP VIEW $cat.stats")
    spark.sql(s"DROP TABLE $cat.base_mv")
    spark.sql(s"DROP TABLE $cat.base")
  }

  test("MV refresh exactly-once: concurrent refreshes serialize; one folds, the other no-ops") {
    val wh = Files.createTempDirectory("graft_mvrace").toString
    val cat = "gmvr_" + (wh.hashCode & 0x7fffffff)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", wh)
    spark.sql(s"""CREATE TABLE $cat.base (g STRING, v BIGINT)
      TBLPROPERTIES ('retainHistory'='true')""")
    spark.sql(s"""INSERT INTO $cat.base
      SELECT CASE id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END, id
      FROM range(200)""")
    graft.sources.MaterializedViews.createTopK(spark, cat, "hot",
      "base", "cnt_mv", "g", "v", 3)
    spark.sql(s"""INSERT INTO $cat.base
      SELECT CASE id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END, id
      FROM range(1000, 1300)""") // the contested delta
    // Two refreshes race: the second serializes behind the refresh
    // lock, re-reads the watermark inside it, and no-ops. Before the
    // fix both planned the same (1, 2] delta and both appended —
    // double-counting every group.
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { _ =>
      new Thread(() =>
        try results.add(graft.sources.MaterializedViews.refresh(
          spark, cat, "cnt_mv"))
        catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(180000))
    assert(errs.isEmpty, s"refresh must not fail under contention: ${errs.peek()}")
    val rs = results.iterator()
    val all = collection.mutable.ArrayBuffer[(Long, Long)]()
    while (rs.hasNext) all += rs.next()
    assert(all.toSet == Set((1L, 2L), (2L, 2L)),
      s"one folds, one no-ops: $all")
    val folded = spark.sql(
      s"SELECT g, sum(cnt_p) AS cnt FROM $cat.cnt_mv GROUP BY g").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = spark.sql(
      s"SELECT g, count(*) FROM $cat.base GROUP BY g").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(folded == expect, "each base row counted exactly once")
    // SQL front door parity: the next delta refreshes via CALL and
    // lands the identical watermark advance the Scala route would.
    spark.sql(s"""INSERT INTO $cat.base
      SELECT 'a', id FROM range(2000, 2050)""") // base gen 3
    val row = spark.sql(s"CALL $cat.system.refresh_mv('cnt_mv')").head
    assert((row.getLong(0), row.getLong(1)) == ((2L, 3L)), s"$row")
    val folded2 = spark.sql(
      s"SELECT g, sum(cnt_p) AS cnt FROM $cat.cnt_mv GROUP BY g").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect2 = spark.sql(
      s"SELECT g, count(*) FROM $cat.base GROUP BY g").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(folded2 == expect2, "SQL refresh ≡ Scala refresh")
    assert(spark.sql(s"SELECT count(*) FROM $cat.hot").head.getLong(0) <= 9,
      "top-k view holds at most k rows per group")
    spark.sql(s"DROP VIEW $cat.hot")
    spark.sql(s"DROP TABLE $cat.cnt_mv")
    spark.sql(s"DROP TABLE $cat.base")
  }

  test("partition-scoped compaction: only the scoped partition's files merge; tuples survive") {
    val wh = Files.createTempDirectory("graft_pscompact").toString
    val cat = "gpsc_" + (wh.hashCode & 0x7fffffff)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", wh)
    spark.sql(s"""CREATE TABLE $cat.t (lang STRING, id BIGINT)
      PARTITIONED BY (lang)""")
    // 3 commits x 2 langs = 6 small files (one per tuple per insert).
    (0 until 3).foreach { b =>
      spark.sql(s"""INSERT INTO $cat.t
        SELECT CASE id % 2 WHEN 0 THEN 'en' ELSE 'de' END, id + ${b * 100}
        FROM range(40) DISTRIBUTE BY id % 2""")
    }
    val dir = java.nio.file.Paths.get(wh, "t").toString
    assert(graft.sources.ManifestSink.committedFiles(dir).size == 6)
    // Scope to lang=en: exactly the 3 'en' files merge into one; the
    // 'de' partition is untouched (at 100 TB you compact the hot
    // partition, not the table).
    val merged = spark.sql(
      s"CALL $cat.system.compact('t', 100000, 'lang=en')").head.getInt(0)
    assert(merged == 3, s"merged=$merged")
    val after = graft.sources.ManifestSink.committedFiles(dir)
    assert(after.size == 4, s"3 en -> 1 plus 3 de: $after")
    assert(after.count(_.startsWith("compact-")) == 1)
    // Rows intact; the merged entry KEEPS its uniform partition tuple,
    // so partition pruning still proves lang=en without opening files.
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 120)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE lang = 'en'")
      .head.getLong(0) == 60)
    def filePartitions(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.partitions.size
      }.sum
    assert(filePartitions(
      spark.sql(s"SELECT * FROM $cat.t WHERE lang = 'en'")) == 1,
      "the merged en file keeps its recorded tuple: 1 of 4 planned")
    // Unscoped compaction still merges the remainder (the en compact
    // file is itself below target, so it re-merges too).
    assert(spark.sql(s"CALL $cat.system.compact('t', 100000)")
      .head.getInt(0) >= 3)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 120)
    spark.sql(s"DROP TABLE $cat.t")
  }

  test("CREATE/DROP MATERIALIZED VIEW: SQL front door routes to the IVM machinery") {
    val wh = Files.createTempDirectory("graft_cmv").toString
    val cat = "gcmv_" + (wh.hashCode & 0x7fffffff)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", wh)
    spark.sql(s"""CREATE TABLE $cat.base (g STRING, v BIGINT)
      TBLPROPERTIES ('retainHistory'='true')""")
    spark.sql(s"""INSERT INTO $cat.base
      SELECT CASE id % 2 WHEN 0 THEN 'x' ELSE 'y' END, id FROM range(100)""")
    // AVG shape → the avg kind (partials at <view>__mv).
    spark.sql(s"""CREATE MATERIALIZED VIEW $cat.stats AS
      SELECT g, avg(v) FROM $cat.base GROUP BY g""")
    def truthAvg(): Map[String, (Long, Long)] =
      spark.sql(s"SELECT g, sum(v), count(v) FROM $cat.base GROUP BY g")
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    def mvAvg(): Map[String, (Long, Long)] =
      spark.sql(s"SELECT g, sum_v, cnt_v FROM $cat.stats").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(mvAvg() == truthAvg())
    // O(delta) refresh through the SQL front doors end to end.
    spark.sql(s"""INSERT INTO $cat.base
      SELECT CASE id % 2 WHEN 0 THEN 'x' ELSE 'y' END, id * 3
      FROM range(500, 600)""")
    val r = spark.sql(s"CALL $cat.system.refresh_mv('stats__mv')").head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)), s"$r")
    assert(mvAvg() == truthAvg(), "CMV refresh folds exactly once")
    // MIN/MAX shape → the minmax kind.
    spark.sql(s"""CREATE MATERIALIZED VIEW $cat.vrange AS
      SELECT g, min(v), max(v) FROM $cat.base GROUP BY g""")
    val mm = spark.sql(s"SELECT g, min_v, max_v FROM $cat.vrange").collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    val mmTruth = spark.sql(
      s"SELECT g, min(v), max(v) FROM $cat.base GROUP BY g").collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(mm == mmTruth)
    // Unsupported shapes fail LOUDLY — never a silent plain view.
    val bad = intercept[Exception] {
      spark.sql(s"""CREATE MATERIALIZED VIEW $cat.nope AS
        SELECT g, sum(v) / 2 FROM $cat.base GROUP BY g""")
    }
    assert(bad.getMessage.contains("self-maintainable"), bad.getMessage)
    // DROP MATERIALIZED VIEW removes BOTH halves by convention.
    spark.sql(s"DROP MATERIALIZED VIEW $cat.stats")
    intercept[Exception] { spark.sql(s"SELECT * FROM $cat.stats").collect() }
    assert(!spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).contains("stats__mv"), "partial table dropped")
    spark.sql(s"DROP MATERIALIZED VIEW IF EXISTS $cat.stats") // idempotent
    spark.sql(s"DROP MATERIALIZED VIEW $cat.vrange")
    spark.sql(s"DROP TABLE $cat.base")
  }

  test("aggregate pushdown: count/min/max answer from the manifest with ZERO data read") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_aggpush").toString
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType)))
    spark.range(0, 1000).selectExpr("id",
        "CASE WHEN id % 10 = 0 THEN NULL ELSE id * 3 END AS v")
      .repartitionByRange(4, col("id"))
      .write.format("graft.sources.ManifestSink")
      .option("path", dir).mode("append").save()
    def rd() = spark.read.format("graft.sources.ManifestSink")
      .schema(sch).option("path", dir).load()
    // THE PIN: hide every data file — a pushed aggregate never opens
    // one; an implementation that scanned would throw.
    val dirPath = java.nio.file.Paths.get(dir)
    val dataFiles = graft.sources.ManifestSink.committedFiles(dir)
    dataFiles.foreach(n => Files.move(dirPath.resolve(n),
      dirPath.resolve(n + ".hidden")))
    val row = rd().agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
      min(col("id")).as("mn"), max(col("v")).as("mx")).head
    assert(row.getLong(0) == 1000L)
    assert(row.getLong(1) == 900L, "count(v): rows minus recorded nulls")
    assert(row.getLong(2) == 0L)
    assert(row.getLong(3) == 999L * 3)
    // Stand-down paths MUST read data: with files hidden they throw.
    intercept[Exception] { rd().where(col("id") < 10)
      .agg(count(lit(1))).collect() } // any filter
    intercept[Exception] { rd().agg(sum(col("v"))).collect() } // sum
    dataFiles.foreach(n => Files.move(dirPath.resolve(n + ".hidden"),
      dirPath.resolve(n)))
    // Unhidden: the stand-down paths agree with the pushed answers.
    assert(rd().agg(sum(lit(1))).head.getLong(0) == 1000L)
    // DV table: count(*) pushes over liveRows; min/max stand down
    // (a deleted row might be the extremum).
    val wh = Files.createTempDirectory("graft_aggpush_dv")
    val cat = "gap_" + (wh.toString.hashCode & 0x7fffffff)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
    spark.sql(s"""CREATE TABLE $cat.t (id BIGINT, v BIGINT)
      TBLPROPERTIES ('deletionVectors'='true')""")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(100)")
    spark.sql(s"DELETE FROM $cat.t WHERE id = 99 OR id = 0")
    val tdir = wh.resolve("t")
    val tFiles = graft.sources.ManifestSink.committedFiles(tdir.toString)
    tFiles.foreach(n => Files.move(tdir.resolve(n),
      tdir.resolve(n + ".hidden")))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 98L,
      "count(*) under deletion vectors pushes over live rows")
    intercept[Exception] {
      spark.sql(s"SELECT max(id) FROM $cat.t").collect()
    } // max must stand down: the deleted 99 WAS the recorded bound
    tFiles.foreach(n => Files.move(tdir.resolve(n + ".hidden"),
      tdir.resolve(n)))
    assert(spark.sql(s"SELECT max(id) FROM $cat.t").head.getLong(0) == 98L)
    spark.sql(s"DROP TABLE $cat.t")
    // GROUP BY an identity partition column: per-group counts and
    // bounds come from each file's proven tuple — still zero data read.
    spark.sql(s"""CREATE TABLE $cat.p (k STRING, v BIGINT)
      PARTITIONED BY (k)""")
    spark.sql(s"""INSERT INTO $cat.p
      SELECT CASE id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END, id
      FROM range(90) DISTRIBUTE BY id % 3""")
    val pdir = wh.resolve("p")
    val pFiles = graft.sources.ManifestSink.committedFiles(pdir.toString)
    pFiles.foreach(n => Files.move(pdir.resolve(n),
      pdir.resolve(n + ".hidden")))
    val groups = spark.sql(
      s"SELECT k, count(*), min(v), max(v) FROM $cat.p GROUP BY k")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(groups == Map("a" -> ((30L, 0L, 87L)), "b" -> ((30L, 1L, 88L)),
      "c" -> ((30L, 2L, 89L))), s"$groups")
    // Stand-down: grouping by a NON-partition column must read data.
    intercept[Exception] {
      spark.sql(s"SELECT v % 2, count(*) FROM $cat.p GROUP BY v % 2")
        .collect()
    }
    pFiles.foreach(n => Files.move(pdir.resolve(n + ".hidden"),
      pdir.resolve(n)))
    spark.sql(s"DROP TABLE $cat.p")
    // DATE/TIMESTAMP/DECIMAL min-max push too (their stat tokens are
    // exact — ISO strings / plain decimals, never truncated); a
    // free-form STRING min still stands down (truncated bounds), and a
    // column with no stats anywhere (all-null file) stands down.
    spark.sql(s"""CREATE TABLE $cat.tt (day DATE, ts TIMESTAMP,
      d DECIMAL(10,2), s STRING, nn BIGINT)""")
    spark.sql(s"""INSERT INTO $cat.tt
      SELECT DATE'2024-01-01' + CAST(id AS INT),
        TIMESTAMP'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id),
        CAST(concat(id, '.75') AS DECIMAL(10,2)),
        repeat('z', 100 + CAST(id AS INT)), NULL
      FROM range(50)""")
    val ttdir = wh.resolve("tt")
    val ttFiles = graft.sources.ManifestSink.committedFiles(ttdir.toString)
    ttFiles.foreach(n => Files.move(ttdir.resolve(n),
      ttdir.resolve(n + ".hidden")))
    val trow = spark.sql(s"""SELECT min(day), max(day), min(ts), max(ts),
      min(d), max(d) FROM $cat.tt""").head
    assert(trow.getDate(0).toString == "2024-01-01" &&
      trow.getDate(1).toString == "2024-02-19", s"$trow")
    assert(trow.getTimestamp(2).toInstant.toString.startsWith("2024-01-01T00:00:00") &&
      trow.getTimestamp(3).toInstant.toString.startsWith("2024-01-01T00:00:49"),
      s"$trow")
    assert(trow.getDecimal(4).toPlainString == "0.75" &&
      trow.getDecimal(5).toPlainString == "49.75", s"$trow")
    // Truncated-string and missing-stat stand-downs must scan → throw.
    intercept[Exception] {
      spark.sql(s"SELECT min(s) FROM $cat.tt").collect()
    }
    intercept[Exception] {
      spark.sql(s"SELECT min(nn) FROM $cat.tt").collect()
    }
    ttFiles.foreach(n => Files.move(ttdir.resolve(n + ".hidden"),
      ttdir.resolve(n)))
    assert(spark.sql(s"SELECT min(s) FROM $cat.tt").head.getString(0)
      .startsWith("zzz"))
    spark.sql(s"DROP TABLE $cat.tt")
  }

  test("top-k MV: rank cut at read — a key below the cut re-enters when a delta lifts it") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft_topkmv").toString
    spark.conf.set("spark.sql.catalog.gtk", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtk.base", wh)
    spark.sql("""CREATE TABLE gtk.base (g STRING, k STRING)
      TBLPROPERTIES ('retainHistory'='true')""")
    // Era 1: counts a=5, b=3, c=2, d=1 — top-2 is {a, b}.
    spark.sql("""INSERT INTO gtk.base
      SELECT 'x', k FROM (VALUES ('a'),('a'),('a'),('a'),('a'),
        ('b'),('b'),('b'), ('c'),('c'), ('d')) AS t(k)""")
    graft.sources.MaterializedViews.createTopK(spark, "gtk", "topk",
      "base", "base_mv", "g", "k", 2)
    def top(): Seq[(String, Long, Long)] =
      spark.sql("SELECT k, cnt, rnk FROM gtk.topk ORDER BY rnk").collect()
        .map(r => (r.getString(0), r.getLong(1),
          r.get(2).asInstanceOf[Number].longValue)).toSeq
    assert(top() == Seq(("a", 5L, 1L), ("b", 3L, 2L)))
    // Era 2: +6 d's — d (below the cut, but NEVER dropped from the
    // count log) must re-enter at rank 1; the cut happens at read.
    spark.sql("""INSERT INTO gtk.base
      SELECT 'x', 'd' FROM range(6)""")
    val (from, to) =
      graft.sources.MaterializedViews.refresh(spark, "gtk", "base_mv")
    assert(from == 1L && to == 2L)
    assert(top() == Seq(("d", 7L, 1L), ("a", 5L, 2L)))
    // The MV is a LOG: two partial batches per touched key fold exactly.
    assert(spark.sql("SELECT count(*) FROM gtk.base_mv").head.getLong(0) == 5L,
      "4 era-1 keys + 1 era-2 partial batch row")
    spark.sql("DROP VIEW gtk.topk")
    spark.sql("DROP TABLE gtk.base_mv")
    spark.sql("DROP TABLE gtk.base")
  }

  test("deletion vectors: merge-on-read MERGE upserts without rewriting files") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft_dvm").toString
    spark.conf.set("spark.sql.catalog.gdvm", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdvm.base", wh)
    spark.sql("""CREATE TABLE gdvm.t (id BIGINT, v STRING)
      TBLPROPERTIES ('deletionVectors'='true')""")
    spark.range(0, 1000).select(col("id"),
        concat(lit("old-"), col("id")).as("v"))
      .repartitionByRange(4, col("id")).writeTo("gdvm.t").append()
    val dir = java.nio.file.Paths.get(wh, "t")
    val before = graft.sources.ManifestSink.committedFiles(dir.toString).toSet
    val bytesBefore = before.map(n =>
      n -> Files.readAllBytes(dir.resolve(n)).toSeq).toMap
    spark.sql("CREATE TABLE gdvm.src (id BIGINT, v STRING)")
    spark.sql("""INSERT INTO gdvm.src VALUES
      (10, 'm-10'), (11, 'm-11'), (666, 'kill'), (5000, 'm-5000')""")
    // All three MERGE clauses through the position-delta path: matched
    // update = vector-delete + append, matched delete = offsets only,
    // not-matched insert = plain append. No data file rewrites.
    spark.sql("""MERGE INTO gdvm.t t USING gdvm.src s ON t.id = s.id
      WHEN MATCHED AND s.v = 'kill' THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    val after = graft.sources.ManifestSink.committedFiles(dir.toString).toSet
    assert(before.subsetOf(after),
      s"MoR merge must not retire data files: ${before -- after} vanished")
    before.foreach(n => assert(
      Files.readAllBytes(dir.resolve(n)).toSeq == bytesBefore(n),
      s"data file $n must be byte-identical after a MoR merge"))
    val rows = spark.sql("SELECT id, v FROM gdvm.t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 1000, s"999 survivors + 1 insert: ${rows.size}")
    assert(rows(10L) == "m-10" && rows(11L) == "m-11" &&
      rows(5000L) == "m-5000" && !rows.contains(666L) &&
      rows(9L) == "old-9")
    spark.sql("DROP TABLE gdvm.t")
    spark.sql("DROP TABLE gdvm.src")
  }

  test("committer stress: concurrent appends, merges, and DV deletes all land") {
    import org.apache.spark.sql.functions._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val wh = Files.createTempDirectory("graft_stress").toString
    spark.conf.set("spark.sql.catalog.gstr", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gstr.base", wh)
    spark.sql("""CREATE TABLE gstr.t (id BIGINT, v BIGINT)
      TBLPROPERTIES ('deletionVectors'='true')""")
    // 4 workers over DISJOINT key ranges, each interleaving an append,
    // a MoR MERGE upsert, and a DV DELETE — with the bounded lock
    // acquire wait, overlapping commits queue briefly instead of
    // failing, and every worker's effects must land.
    val workers = (0 until 4).map { t =>
      Future {
        val lo = t * 100000L
        spark.range(lo, lo + 200).selectExpr("id", "id AS v")
          .writeTo("gstr.t").append()
        spark.range(lo + 100, lo + 300).selectExpr("id", "id * 2 AS v")
          .createOrReplaceTempView(s"gstr_src_$t")
        spark.sql(s"""MERGE INTO gstr.t x USING gstr_src_$t s ON x.id = s.id
          WHEN MATCHED THEN UPDATE SET v = s.v
          WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
        spark.sql(s"DELETE FROM gstr.t WHERE id >= $lo AND id < ${lo + 50}")
      }
    }
    workers.foreach(Await.result(_, 180.seconds))
    // Per-worker final state: ids lo+50..lo+299; v = id for lo+50..99,
    // id*2 for lo+100..299.
    val rows = spark.sql("SELECT id, v FROM gstr.t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 4 * 250, s"expected 1000 rows, got ${rows.size}")
    (0 until 4).foreach { t =>
      val lo = t * 100000L
      (50 until 100).foreach(i => assert(rows(lo + i) == lo + i))
      (100 until 300).foreach(i => assert(rows(lo + i) == (lo + i) * 2))
      (0 until 50).foreach(i => assert(!rows.contains(lo + i)))
    }
    spark.sql("DROP TABLE gstr.t")
  }

  test("deletion vectors: racing DELETEs serialize under the publish lock") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft_dvrace").toString
    spark.conf.set("spark.sql.catalog.gdvr", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdvr.base", wh)
    spark.sql("""CREATE TABLE gdvr.t (id BIGINT, v BIGINT)
      TBLPROPERTIES ('deletionVectors'='true')""")
    spark.range(0, 2000).selectExpr("id", "id * 2 AS v")
      .repartitionByRange(4, col("id")).writeTo("gdvr.t").append()
    val dir = java.nio.file.Paths.get(wh, "t").toString
    // Two concurrent position-delta DELETEs over overlapping FILES
    // (disjoint rows): the second committer must merge its offsets onto
    // the first's freshly-published vector, not clobber it — the
    // re-read happens under the publish lock.
    val setA = (0 until 10).map(i => i * 200 + 3)     // one per file region
    val setB = (0 until 10).map(i => i * 200 + 4)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(spark.sql(
      s"DELETE FROM gdvr.t WHERE id IN (${setA.mkString(",")})"))
    val fb = Future(spark.sql(
      s"DELETE FROM gdvr.t WHERE id IN (${setB.mkString(",")})"))
    Await.result(fa, 120.seconds); Await.result(fb, 120.seconds)
    assert(spark.sql("SELECT count(*) FROM gdvr.t").head.getLong(0) == 1980,
      "both racing deletes must land")
    val gone = (setA ++ setB).map(_.toLong).toSet
    val ids = spark.sql("SELECT id FROM gdvr.t").collect()
      .map(_.getLong(0)).toSet
    assert(gone.forall(!ids.contains(_)), "every deleted id stays deleted")
    assert(ids.size == 1980)
    spark.sql("DROP TABLE gdvr.t")
  }

  test("deletion vectors: change feed emits DV deltas; time travel reads old vectors") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val wh = Files.createTempDirectory("graft_dvcdf").toString
    spark.conf.set("spark.sql.catalog.gdvc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdvc.base", wh)
    spark.sql("""CREATE TABLE gdvc.t (id BIGINT, v BIGINT)
      TBLPROPERTIES ('deletionVectors'='true', 'retainHistory'='true')""")
    spark.range(0, 100).selectExpr("id", "id * 2 AS v").coalesce(1)
      .writeTo("gdvc.t").append() // generation 1
    val dir = java.nio.file.Paths.get(wh, "t").toString
    spark.sql("DELETE FROM gdvc.t WHERE id >= 10 AND id <= 14") // gen 2
    spark.sql("DELETE FROM gdvc.t WHERE id >= 15 AND id <= 16") // gen 3

    val sch = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType)))
    val cdfSch = StructType(sch.fields :+
      StructField("_change_type", StringType))
    // Batch change feed over the SECOND delete only: exactly the two
    // newly-deleted rows, as deletes — the DV delta, not the whole
    // vector, and none of the file's live rows.
    val w23 = spark.read.format("graft.sources.ManifestSink")
      .schema(cdfSch).option("path", dir)
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").option("endingVersion", "3")
      .load().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(w23.toSet == Set((15L, 30L, "delete"), (16L, 32L, "delete")),
      s"DV delta must emit exactly the new deletes: ${w23.mkString(", ")}")
    // Window covering both deletes: the full vector as deletes.
    val w13 = spark.read.format("graft.sources.ManifestSink")
      .schema(cdfSch).option("path", dir)
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "3")
      .load().collect().map(r => (r.getLong(0), r.getString(2)))
    assert(w13.length == 7 && w13.forall(_._2 == "delete"))
    assert(w13.map(_._1).sorted.toSeq == (10L to 16L))

    // A plain (non-CDF) stream tailing the table must refuse a DV
    // delete loudly — rows silently vanishing mid-tail would corrupt
    // an append-only consumer.
    val refused = intercept[Exception] {
      spark.read.format("graft.sources.ManifestSink")
        .schema(sch).option("path", dir)
        .option("startingVersion", "1").option("endingVersion", "3")
        .load().collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(refused).exists(_.contains("append-only")),
      s"plain tail must refuse DV deletes: ${messages(refused)}")

    // Time travel reads the vector AS OF the version: gen 1 pre-delete,
    // gen 2 after the first delete only.
    def at(v: Int): Set[Long] = spark.read
      .format("graft.sources.ManifestSink").schema(sch)
      .option("path", dir).option("versionAsOf", v.toString).load()
      .collect().map(_.getLong(0)).toSet
    assert(at(1) == (0L until 100L).toSet)
    assert(at(2) == (0L until 100L).toSet -- (10L to 14L))
    assert(at(3) == (0L until 100L).toSet -- (10L to 16L))

    // Snapshot expiry releases superseded sidecars with their
    // generations: retention is why the gen-2 vector stayed on disk;
    // after keepLast=1 only the current vector remains and current
    // reads are untouched.
    def sidecarsOnDisk = {
      val ls = Files.list(java.nio.file.Paths.get(dir))
      try {
        val it = ls.iterator(); val b = Set.newBuilder[String]
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (n.contains(".dv-g")) b += n
        }
        b.result()
      } finally ls.close()
    }
    assert(sidecarsOnDisk.size == 2,
      s"retention must keep the superseded vector: $sidecarsOnDisk")
    graft.sources.ManifestSink.expireSnapshots(dir, keepLast = 1)
    assert(sidecarsOnDisk.size == 1,
      s"expiry must release the superseded vector: $sidecarsOnDisk")
    assert(spark.sql("SELECT count(*) FROM gdvc.t").head.getLong(0) == 93)
    spark.sql("DROP TABLE gdvc.t")
  }

  test("change feed represents restore: resurrected DV rows re-emit as inserts") {
    import org.apache.spark.sql.types._
    val wh = Files.createTempDirectory("graft_dvrestore_cdf").toString
    spark.conf.set("spark.sql.catalog.gdvrs", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdvrs.base", wh)
    spark.sql("""CREATE TABLE gdvrs.t (id BIGINT, v BIGINT)
      TBLPROPERTIES ('deletionVectors'='true', 'retainHistory'='true')""")
    spark.range(0, 20).selectExpr("id", "id * 2 AS v").coalesce(1)
      .writeTo("gdvrs.t").append()                       // gen 1, one file
    spark.sql("DELETE FROM gdvrs.t WHERE id IN (3, 4)")  // gen 2: DV grows
    spark.sql("CALL gdvrs.system.restore('t', '1')")     // gen 3: DV SHRINKS
    val dir = java.nio.file.Paths.get(wh, "t").toString
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType)))
    val cdfSch = StructType(sch.fields :+
      StructField("_change_type", StringType))
    // The restore republished the SAME file name with the vector gone:
    // rows 3 and 4 came back to life. A CDC consumer that applied the
    // gen-2 deletes would diverge permanently unless the feed emits the
    // resurrection — as inserts, read straight from the old vector's
    // offset difference (no driver-side classification).
    val w23 = spark.read.format("graft.sources.ManifestSink")
      .schema(cdfSch).option("path", dir)
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").option("endingVersion", "3")
      .load().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(w23.toSet == Set((3L, 6L, "insert"), (4L, 8L, "insert")),
      s"restore must re-emit resurrected rows as inserts: ${w23.mkString(", ")}")
    // The feed is an ENDPOINT diff (generation s vs generation e), so
    // the full window nets to zero: gen 3 republished gen 1's exact
    // state, and — like a pure compaction — a no-net-change window
    // emits nothing. Per-event granularity is available by reading
    // (1,2] then (2,3]; both windows' net effects compose to this.
    val w13 = spark.read.format("graft.sources.ManifestSink")
      .schema(cdfSch).option("path", dir)
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "3")
      .load().collect().map(r => (r.getLong(0), r.getString(2)))
    assert(w13.isEmpty,
      s"net-zero window must emit nothing: ${w13.mkString(", ")}")
    // A plain (append-only) incremental read must REFUSE the shrink
    // loudly — rows silently reappearing is as corrupting as rows
    // silently vanishing.
    val refused = intercept[Exception] {
      spark.read.format("graft.sources.ManifestSink")
        .schema(sch).option("path", dir)
        .option("startingVersion", "2").option("endingVersion", "3")
        .load().collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(refused).exists(_.contains("append-only")),
      s"plain tail must refuse DV shrinkage: ${messages(refused)}")
    assert(spark.sql("SELECT count(*) FROM gdvrs.t").head.getLong(0) == 20)
    spark.sql("DROP TABLE gdvrs.t")
  }

  test("table_changes TVF: path mode matches the DataFrame change-feed route") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_tvf").toString
    def append(lo: Long, hi: Long): Unit =
      spark.range(lo, hi).selectExpr("id", "id * 3 AS v").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", dir).option("retainHistory", "true")
        .mode("append").save()
    append(0, 40)  // gen 1
    append(40, 70) // gen 2
    append(70, 90) // gen 3
    // Path-mode TVF (schema inferred): window (1, 3].
    val tvf = spark.sql(
      s"SELECT id, v, _change_type FROM table_changes('$dir', 1, 3)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val cdfSch = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType), StructField("_change_type", StringType)))
    val df = spark.read.format("graft.sources.ManifestSink")
      .schema(cdfSch).option("path", dir)
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "3")
      .load().collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(tvf.toSet == df.toSet && tvf.length == 50)
    assert(tvf.forall(_._3 == "insert") && tvf.forall(t => t._1 >= 40))
    // Default end = current generation.
    assert(spark.sql(s"SELECT count(*) FROM table_changes('$dir', 0)")
      .head.getLong(0) == 90)
    // File skipping still applies through the TVF (a regular DSv2
    // relation underneath): a pushed range outside gen-3 bounds prunes.
    assert(spark.sql(
      s"SELECT count(*) FROM table_changes('$dir', 2) WHERE id < 50")
      .head.getLong(0) == 0)
    // Argument validation fails loudly at analysis.
    intercept[Exception] {
      spark.sql(s"SELECT * FROM table_changes('$dir', 3, 1)").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT * FROM table_changes('nonexistent.tbl', 0)").collect()
    }
  }

  test("ManifestOps.mergeInto: copy-on-write upsert rewrites only key-overlapping files") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_merge").toString
    // Range-partitioned layout: 4 files with disjoint id ranges.
    spark.range(0, 1000).select(col("id"),
        concat(lit("old-"), col("id")).as("v"))
      .repartitionByRange(4, col("id"))
      .write.format("graft.sources.ManifestSink")
      .option("path", dir).mode("append").save()
    val before = graft.sources.ManifestSink.committedFiles(dir).toSet
    assert(before.size == 4)
    // Updates touch ids 100-119 (one file's range) plus a brand-new key.
    val updates = spark.range(100, 120).select(col("id"),
        concat(lit("new-"), col("id")).as("v"))
      .unionByName(Seq((5000L, "new-5000")).toDF("id", "v"))
    val rewritten = graft.sources.ManifestOps.mergeInto(
      spark, dir, updates, "id")
    assert(rewritten == 1, s"stats must plan exactly 1 affected file")
    val after = graft.sources.ManifestSink.committedFiles(dir).toSet
    assert((before -- after).size == 1, "only the affected file retires")
    assert((before intersect after).size == 3, "untouched files carry over")
    // Content: updated keys new, untouched keys old, insert present.
    val sch = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val rows = spark.read.format("graft.sources.ManifestSink")
      .schema(sch).option("path", dir).load()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 1001)
    assert(rows(110L) == "new-110" && rows(99L) == "old-99" &&
      rows(120L) == "old-120" && rows(5000L) == "new-5000")
    // Optimistic concurrency: a replaceFiles commit naming a file that
    // is no longer committed fails loudly (a racing merge won).
    val gone = (before -- after).head
    val err = intercept[Exception] {
      Seq((1L, "x")).toDF("id", "v")
        .write.format("graft.sources.ManifestSink")
        .option("path", dir).option("replaceFiles", gone)
        .mode("append").save()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(c => c.getMessage != null &&
      c.getMessage.contains("no longer committed")), err.toString)
    assert(graft.sources.ManifestSink.committedRowCount(dir) == 1001,
      "failed swap must leave the table unchanged")
  }

  test("mergeInto optimistic retry: racing merges with overlapping files both commit") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_merge_race").toString
    spark.range(0, 1000).select(col("id"),
        concat(lit("old-"), col("id")).as("v"))
      .repartitionByRange(4, col("id"))
      .write.format("graft.sources.ManifestSink")
      .option("path", dir).mode("append").save()
    val genBefore = graft.sources.ManifestSink.committedGeneration(dir)
    // Two merges whose KEY SETS are disjoint but whose affected FILE is
    // the same (both ranges live in the first range-partitioned file):
    // the loser's swap names a file the winner just replaced — it must
    // re-plan against the winner's generation and commit cleanly,
    // PRESERVING the winner's updates (the Iceberg/Delta commit loop).
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def merger(lo: Long, hi: Long, tag: String): Thread = new Thread(() => {
      try {
        start.await()
        val upd = spark.range(lo, hi).select(col("id"),
          concat(lit(s"$tag-"), col("id")).as("v"))
        graft.sources.ManifestOps.mergeInto(spark, dir, upd, "id")
      } catch { case t: Throwable => errs.add(t) }
    })
    val ts = Seq(merger(10, 20, "a"), merger(20, 30, "b"))
    ts.foreach(_.start())
    start.countDown()
    ts.foreach(_.join(120000))
    assert(errs.isEmpty,
      s"racing merges must both commit via retry: ${errs.toArray.mkString("; ")}")
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    val rows = spark.read.format("graft.sources.ManifestSink")
      .schema(sch).option("path", dir).load()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 1000, "no row lost or doubled across the race")
    assert(rows(15L) == "a-15" && rows(25L) == "b-25" && rows(35L) == "old-35",
      s"both merges' updates must survive: ${rows(15L)}, ${rows(25L)}")
    assert(graft.sources.ManifestSink.committedGeneration(dir) == genBefore + 2,
      "exactly two commits must publish (the failed swap publishes nothing)")
  }

  test("mergeInto preserves a partitioned layout; pruning stays exact after the rewrite") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_merge_part").toString
    spark.range(0, 300)
      .select(col("id"), (col("id") % 3).cast("int").as("bucket"),
        concat(lit("v"), col("id")).as("v"))
      .repartition(col("bucket"))
      .write.format("graft.sources.ManifestSink")
      .option("path", dir).option("partitionBy", "bucket")
      .mode("append").save()
    // Merge planning is keyed on `id`, whose range every bucket file
    // spans (the layout is partitioned by bucket, not id) — so all 3
    // files rewrite; what partitionBy in writeOptions buys is that the
    // REWRITTEN layout is still per-tuple files with exact pruning.
    val updates = Seq((1L, 1, "V1"), (4L, 1, "V4"), (301L, 1, "V301"))
      .toDF("id", "bucket", "v")
    val rewritten = graft.sources.ManifestOps.mergeInto(spark, dir, updates,
      "id", writeOptions = Map("partitionBy" -> "bucket"))
    assert(rewritten == 3)
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("bucket", IntegerType), StructField("v", StringType)))
    val table = spark.read.format("graft.sources.ManifestSink")
      .schema(sch).option("path", dir).load()
    def filePartitions(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.partitions.size
      }.sum
    // Every post-merge file is still single-tuple: equality pruning on
    // the partition column stays EXACT (the bucket-2 scan plans only
    // bucket-2 files, strictly fewer than the table's).
    val total = graft.sources.ManifestSink.committedFiles(dir).size
    val b2 = filePartitions(table.where(col("bucket") === 2))
    assert(b2 < total && b2 >= 1, s"$b2 of $total")
    assert(table.where(col("bucket") === 2).count() == 100)
    val rows = table.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows.size == 301 && rows(1L) == "V1" && rows(4L) == "V4" &&
      rows(301L) == "V301" && rows(7L) == "v7")
  }

  test("ManifestOps.cluster: sorted rewrite turns full scans into 1-file point lookups") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_cluster").toString
    // RANDOM layout: hash repartition spreads every id range across all
    // files, so every file's bounds span the whole domain.
    spark.range(0, 1000).select(col("id"),
        concat(lit("doc-"), col("id")).as("t"))
      .repartition(4)
      .write.format("graft.sources.ManifestSink")
      .option("path", dir).mode("append").save()
    val sch = StructType(Seq(StructField("id", LongType), StructField("t", StringType)))
    def table = spark.read.format("graft.sources.ManifestSink")
      .schema(sch).option("path", dir).load()
    def filePartitions(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.partitions.size
      }.sum
    assert(filePartitions(table.where(col("id") === 500L)) == 4,
      "random layout: a point lookup cannot prune")
    graft.sources.ManifestOps.cluster(spark, dir, sch, Seq(col("id")), 4)
    assert(graft.sources.ManifestSink.committedFiles(dir).size == 4)
    assert(filePartitions(table.where(col("id") === 500L)) == 1,
      "clustered layout: tight bounds prune to one file")
    // The rewrite moved every row exactly once.
    val rows = table.collect().map(r => r.getLong(0) -> r.getString(1))
    assert(rows.length == 1000 && rows.toMap.get(500L).contains("doc-500"))
  }

  test("CALL system.zorder: a 2-D box predicate scans fewer files than after linear cluster") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft_zorder").toString
    val cat = "graft_zord"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", wh)
    // 256x256 grid, one row per (x, y) cell.
    spark.sql(s"CREATE TABLE $cat.g (x BIGINT, y BIGINT, p BIGINT)")
    spark.range(0, 65536).select(
        (col("id") % 256).as("x"), (col("id") / 256).as("y"),
        col("id").as("p"))
      .writeTo(s"$cat.g").append()
    def boxFiles(): Int = {
      val df = spark.table(s"$cat.g").where(
        col("x") >= 0 && col("x") <= 63 && col("y") >= 0 && col("y") <= 63)
      val n = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          s.partitions.size
      }.sum
      assert(df.count() == 4096, "the box always holds 64x64 cells")
      n
    }
    // LINEAR layout first: 64 files range-partitioned by x alone.
    // Each file spans ~4 x-values and ALL of y, so a 64-wide x range
    // leaves ~16 of 64 candidate files.
    spark.sql(s"CALL $cat.system.cluster('g', 'x', 64)")
    val linear = boxFiles()
    assert(linear >= 12, s"linear-by-x should leave ~16 candidate files, got $linear")
    // ZORDER: the Morton layout makes each of the 64 files a ~32x32
    // tile, so the 64x64 box covers ~4 tiles (a few more with
    // range-sample jitter) — well under half the linear layout's scan.
    spark.sql(s"CALL $cat.system.zorder('g', 'x,y', 64)")
    val z = boxFiles()
    assert(z * 2 < linear,
      s"zorder must scan far fewer files than linear for a 2-D box: $z vs $linear")
    // The rewrite moved every row exactly once.
    val chk = spark.table(s"$cat.g")
      .agg(count(lit(1)), sum(col("p"))).head()
    assert(chk.getLong(0) == 65536L &&
      chk.getLong(1) == 65535L * 65536L / 2)
  }

  test("GraftCatalog schema evolution: ADD reads old files as null, DROP narrows, RENAME maps old payloads") {
    val wh = Files.createTempDirectory("graft_catalog_evo").toString
    spark.conf.set("spark.sql.catalog.gevo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gevo.base", wh)
    spark.sql("CREATE TABLE gevo.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gevo.t SELECT id, concat('v', id) FROM range(5)")
    // ADD COLUMNS: no data rewrite — pre-ALTER files read the new
    // column as null; post-ALTER inserts carry it.
    spark.sql("ALTER TABLE gevo.t ADD COLUMNS (score DOUBLE)")
    spark.sql(
      "INSERT INTO gevo.t SELECT id, concat('v', id), id * 1.5 FROM range(5, 8)")
    val rows = spark.sql("SELECT id, score FROM gevo.t").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(rows.size == 8)
    assert((0L to 4L).forall(rows(_).isEmpty), "old files must read null")
    assert(rows(6L).contains(9.0))
    // Null-count pruning composes with evolution: IS NOT NULL cannot
    // prune old files (their entries predate the column — unknown).
    assert(spark.sql("SELECT count(*) FROM gevo.t WHERE score IS NOT NULL")
      .head.getLong(0) == 3)
    // DROP narrows the schema; the data files keep the extra key.
    spark.sql("ALTER TABLE gevo.t DROP COLUMN v")
    assert(spark.table("gevo.t").columns.toSeq == Seq("id", "score"))
    assert(spark.sql("SELECT sum(id) FROM gevo.t").head.getLong(0) == 28)
    // RENAME is metadata-only: the rename log maps the old payload key
    // (SchemaEvolutionSpec pins the full machinery).
    spark.sql("ALTER TABLE gevo.t RENAME COLUMN score TO s2")
    assert(spark.table("gevo.t").columns.toSeq == Seq("id", "s2"))
    assert(spark.sql("SELECT count(*) FROM gevo.t WHERE s2 IS NOT NULL")
      .head.getLong(0) == 3)
    spark.sql("DROP TABLE gevo.t")
  }

  test("ManifestSink time travel: retained generations read back; expiry collects them") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_manifest_tt").toString
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "t").coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", dir).option("retainHistory", "true")
        .mode("overwrite").save()
    write(Seq((1L, "v1-a"), (2L, "v1-b"))) // generation 1
    write(Seq((3L, "v2-a")))               // generation 2
    write(Seq((4L, "v3-a"), (5L, "v3-b"), (6L, "v3-c"))) // generation 3
    val sch = StructType(Seq(StructField("id", LongType), StructField("t", StringType)))
    def readGen(g: Option[Long]): Set[Long] = {
      val r = spark.read.format("graft.sources.ManifestSink").schema(sch)
        .option("path", dir)
      g.foreach(v => r.option("versionAsOf", v.toString))
      r.load().select("id").collect().map(_.getLong(0)).toSet
    }
    // Every retained generation reads back exactly as committed — the
    // overwrite DID replace the current view, yet history is intact.
    assert(readGen(None) == Set(4L, 5L, 6L))
    assert(readGen(Some(3L)) == Set(4L, 5L, 6L))
    assert(readGen(Some(2L)) == Set(3L))
    assert(readGen(Some(1L)) == Set(1L, 2L))
    // Expire: keep the last 2 generations; gen 1's manifest AND its
    // now-unreferenced data files go, gens 2-3 stay readable.
    val (filesGone, manifestsGone) = graft.sources.ManifestSink.expireSnapshots(dir, keepLast = 2)
    assert(manifestsGone == 1, s"expected 1 expired manifest, got $manifestsGone")
    assert(filesGone == 1, s"expected gen 1's data file collected, got $filesGone")
    assert(readGen(Some(2L)) == Set(3L) && readGen(None) == Set(4L, 5L, 6L))
    val ex = intercept[IllegalArgumentException] { readGen(Some(1L)) }
    assert(ex.getMessage.contains("not retained"), ex.getMessage)
  }

  test("ManifestSink streaming: epoch-committed manifests compose per batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_manifest_stream").toString
    val ckpt = Files.createTempDirectory("graft_manifest_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "tag")
      .writeStream.format("graft.sources.ManifestSink")
      .option("path", dir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      mem.addData(Seq((1L, "a"), (2L, "b")))
      q.processAllAvailable()
      val afterEpoch0 = graft.sources.ManifestSink.committedRowCount(dir)
      assert(afterEpoch0 == 2, s"epoch 0 committed $afterEpoch0 rows")
      mem.addData(Seq((3L, "c")))
      q.processAllAvailable()
      assert(graft.sources.ManifestSink.committedRowCount(dir) == 3)
      val paths = graft.sources.ManifestSink.committedFiles(dir)
        .map(n => s"$dir/$n")
      val got = spark.read.json(paths: _*)
        .select(col("id").cast("long"), col("tag"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "a"), (2L, "b"), (3L, "c")))
      // Epoch-deterministic names: file set carries the epoch ids, the
      // replay-idempotence contract's visible half.
      assert(graft.sources.ManifestSink.committedFiles(dir)
        .forall(_.startsWith("part-e")), "epoch missing from file names")
    } finally q.stop()
  }

  test("PagedApiSource streams incrementally: page-cursor offsets, rate limit") {
    import org.apache.spark.sql.functions._
    // maxPagesPerTrigger=7 over 40 pages: AvailableNow must drain the
    // feed in ceil(40/7)=6 rate-limited micro-batches (an API quota made
    // declarative), and the drained aggregate must equal the batch scan.
    val agg = spark.readStream.format("graft.sources.PagedApiSource")
      .option("pages", 40).option("pageSize", 250)
      .option("maxPagesPerTrigger", 7).load()
      .groupBy("category")
      .agg(count(lit(1)).as("n"), sum(col("score")).as("score_sum"))
    val q = agg.writeStream.format("memory").queryName("t_paged")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(120000)
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches == 6, s"expected 6 rate-limited batches, saw $batches")
      val streamed = spark.table("t_paged").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val batch = spark.read.format("graft.sources.PagedApiSource")
        .option("pages", 40).option("pageSize", 250).load()
        .groupBy("category")
        .agg(count(lit(1)).as("n"), sum(col("score")).as("score_sum"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch, "drained stream diverged from the batch scan")
    } finally q.stop()
  }
}
