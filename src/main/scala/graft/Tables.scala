package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness parquet tables (`/root/repo/TESTDATA.md`).
  *
  * Each loader is a bare `spark.read.parquet` scan so Catalyst can push
  * filters into the parquet reader and prune columns (`PushedFilters` /
  * `ReadSchema` in `.explain`). Nothing is cached or collected here: at
  * 100 TB the scan must stream through executors, and any eager
  * materialization at this layer would defeat partition pruning.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Timestamp columns the driver's generator wrote as parquet
    * TIMESTAMP(NANOS) — a physical type Spark's vectorized reader rejects
    * (`PARQUET_TYPE_ILLEGAL`). We read them as raw nanos (`nanosAsLong`)
    * and rebuild TimestampType via integer division; the generator emits
    * microsecond precision (sub-µs residue is 0 across all SFs), so the
    * conversion is exact. */
  private val nanosTimestampCols: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"),
    "events" -> Seq("ts"))

  // Memo of loaded logical plans per session and (dir, table): DataFrames
  // are immutable plan handles, so reuse is safe, and it skips the
  // repeated file-listing + footer-read that `spark.read.parquet` pays on
  // every call (measurable across the bench run; irrelevant at 100 TB
  // where a table is read once per query, so this is harness hygiene,
  // not an execution-path optimization). Per session, not per shared
  // state as the staged memos are: `doLoad` sets session confs.
  private val loadMemo = new Staging.PerOwner[SparkSession,
    java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]](
    () => new java.util.concurrent.ConcurrentHashMap())

  /** Memoized table scan. NOTE: the cached plan pins the parquet file
    * listing at first read — re-reading a path whose files were replaced
    * later in the same session returns the original listing. That is the
    * right trade for the immutable harness tables; callers that rewrite a
    * table path in-session must call [[invalidate]] first. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loadMemo(spark).computeIfAbsent((dir, name), _ => doLoad(spark, dir, name))

  private def doLoad(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Session conf, not a per-read option — lets the scan map parquet
    // TIMESTAMP(NANOS) to LongType instead of failing. UTC is required
    // for the epoch→NTZ cast below to be the identity — set it too, so
    // driver-constructed sessions on non-UTC machines read the same
    // wall-clock values the oracle does.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Let AQE size CACHED-plan output partitions by bytes too (round-18,
    // guide §2.2/§2: partitioning derived from size, not a constant):
    // Spark pins cached-plan output partitioning by default, so every
    // kB-sized staged dimension kept `shuffle.partitions` partitions and
    // each consumer map stage paid width² shuffle-file opens. Full-bench
    // A/B: 240.1 -> 226.9 s; at cluster scale the same flag sizes cache
    // partitions to the advisory bytes instead of the task count.
    // Defensive per-session set (like the two above) so driver-built
    // sessions get it without relying on our mains' builders.
    spark.conf.set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    nanosTimestampCols.getOrElse(name, Nil).foldLeft(raw) { (df, c) =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType =>
          // `ts DIV 1000` — integer division; a double division would
          // lose precision above 2^53 ns (~1971) and corrupt timestamps.
          // timestamp_ntz matches the naive TIMESTAMP the other tables
          // carry and DuckDB's reading of the same files (session TZ is
          // UTC, so the epoch→wall-clock cast is the identity).
          df.withColumn(c, org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr(s"`$c` DIV 1000")).cast("timestamp_ntz"))
        case _ => df
      }
    }
  }

  /** Drop the memoized plan for (`dir`, `name`) — or the whole directory
    * when `name` is null — so the next [[load]] re-lists the path. The
    * staged memos derived from `dir` ([[Staging.invalidate]]) are
    * dropped and unpersisted too. */
  def invalidate(spark: SparkSession, dir: String, name: String = null): Unit = {
    // Every memoized entry under the directory — including tables loaded
    // by non-harness names — when `name` is null.
    loadMemo.get(spark).foreach(
      _.keySet().removeIf(k => k._1 == dir && (name == null || k._2 == name)))
    Staging.invalidate(spark, dir)
  }

  /** Guarantee at least the session's shuffle parallelism before
    * CPU-heavy per-row work (regex tokenization, JSON parsing, shingling,
    * vector math). The harness parquet is one row group per file, so a
    * bare scan yields ONE input partition and serializes the compute onto
    * a single core no matter how many executors exist.
    *
    * Guarded: a no-op when the scan already yields enough partitions — at
    * 100 TB inputs arrive as many splittable files, the guard holds, and
    * no extra shuffle is paid. The shuffle this inserts on small inputs
    * moves only the projected columns (callers should select first). */
  def fanOut(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= want) df else df.repartition(want)
  }

  /** The logical schema every query in the registry assumes each loader
    * delivers, pinned column by column. The on-disk PHYSICAL types are
    * the generator's business and have drifted between rounds (events.ts
    * has shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)); the
    * loaders probe and convert. What must NOT drift silently is the
    * materialized logical type — the r5→r6 regeneration broke 12
    * streaming specs precisely because nothing asserted it. Compared via
    * `DataType.sql` (nullability is data-dependent, not contract). */
  val expectedSchema: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "INT", "r_name" -> "STRING"),
    "nation" -> Seq("n_nationkey" -> "INT", "n_name" -> "STRING",
      "n_regionkey" -> "INT"),
    "customer" -> Seq("c_custkey" -> "BIGINT", "c_name" -> "STRING",
      "c_nationkey" -> "INT", "c_acctbal" -> "DOUBLE",
      "c_mktsegment" -> "STRING"),
    "supplier" -> Seq("s_suppkey" -> "BIGINT", "s_name" -> "STRING",
      "s_nationkey" -> "INT", "s_acctbal" -> "DOUBLE"),
    "part" -> Seq("p_partkey" -> "BIGINT", "p_name" -> "STRING",
      "p_brand" -> "STRING", "p_type" -> "STRING", "p_size" -> "INT",
      "p_retailprice" -> "DOUBLE"),
    "orders" -> Seq("o_orderkey" -> "BIGINT", "o_custkey" -> "BIGINT",
      "o_orderstatus" -> "STRING", "o_totalprice" -> "DOUBLE",
      "o_orderdate" -> "TIMESTAMP_NTZ", "o_orderpriority" -> "STRING"),
    "lineitem" -> Seq("l_orderkey" -> "BIGINT", "l_partkey" -> "BIGINT",
      "l_suppkey" -> "BIGINT", "l_linenumber" -> "INT",
      "l_quantity" -> "DOUBLE", "l_extendedprice" -> "DOUBLE",
      "l_discount" -> "DOUBLE", "l_tax" -> "DOUBLE",
      "l_returnflag" -> "STRING", "l_linestatus" -> "STRING",
      "l_shipdate" -> "TIMESTAMP_NTZ"),
    "events" -> Seq("event_id" -> "BIGINT", "ts" -> "TIMESTAMP_NTZ",
      "user_id" -> "BIGINT", "event_type" -> "STRING",
      "value" -> "DOUBLE", "props" -> "STRING"),
    "documents" -> Seq("doc_id" -> "BIGINT", "text" -> "STRING",
      "lang" -> "STRING", "source" -> "STRING", "n_chars" -> "BIGINT"),
    "embeddings" -> Seq("vec_id" -> "BIGINT",
      "embedding" -> "ARRAY<FLOAT>", "label" -> "INT"))

  /** Columns whose MATERIALIZED type under the loaders diverges from
    * [[expectedSchema]] — empty when parity holds. Each entry names the
    * table, column, got-type, and want-type, so a testdata regeneration
    * that changes a physical type fails with the exact column instead of
    * silently corrupting downstream specs. */
  def schemaDrift(spark: SparkSession, dir: String,
      tables: Seq[String] = names): Seq[String] =
    tables.flatMap { t =>
      val actual = load(spark, dir, t).schema
        .map(f => f.name -> f.dataType.sql).toMap
      expectedSchema(t).flatMap { case (c, want) =>
        actual.get(c) match {
          case None => Some(s"$t.$c: MISSING (want $want)")
          case Some(got) if got != want => Some(s"$t.$c: got $got, want $want")
          case _ => None
        }
      }
    }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
