package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global-ordering primitives that avoid the single-partition
  * `Window.orderBy(...)` plan (`WindowExec: No Partition Defined` — the
  * whole input funnelling through one task's sort).
  *
  * Shape, shared by all helpers: range-partition rows on the FULL sort
  * order (`repartitionByRange` — Spark's sampled RangePartitioner, the
  * same machinery a distributed ORDER BY uses, so partitions hold
  * disjoint ordered slices), then combine a per-slice pass with the
  * aggregate of all LOWER slices. [[globalRowNumber]] does this in its
  * cheapest form — sort within slices + `zipWithIndex` offsets — while
  * the prefix helpers tag slices with `spark_partition_id()`, window
  * WITHIN each slice, and broadcast the lower-slice aggregates via a
  * triangular self-join (no driver collect, no global window anywhere).
  * Every task stays bounded by its range slice at any scale; slice
  * count follows `spark.sql.shuffle.partitions`, so a 1000-executor
  * cluster gets a proportionally finer split for free.
  *
  * Correctness does not depend on the sampled boundaries being balanced,
  * only on the slice id being non-decreasing along `sort` — which range
  * partitioning guarantees by construction, for ANY sort expression
  * (descending heads, strings, structs) with no numeric range-key proxy
  * needed. The prefix helpers STAGE the partitioned frame (it feeds the
  * per-slice aggregate and the final output, and the persist pins one
  * boundary sample for both consumers). The full `sort` order must be
  * total (callers pass a unique tie-break key), which every global-rank
  * semantics needs anyway.
  */
object Ranks {

  /** Bucket count for the range passes below: the caller's explicit
    * value, else DERIVED from the input's Catalyst size estimate — one
    * bucket per ~32 MB, floored at 1, capped at the session width
    * (round-18, guide §2: make partitioning scale-adaptive — derive
    * from input size — rather than a constant tuned for either local
    * mode or the cluster). The former width default left every
    * kB-sized ranked dimension at 32 partitions, and each downstream
    * map task pays per-shuffle-file constants (bypass-merge writers
    * open `width` files per task — jstack-sampled as the dominant graph
    * /rank family cost at bench SF). Ranks and prefix folds are exact
    * for ANY bucket count, so this changes nothing computed. */
  private def derivedBuckets(df: DataFrame, buckets: Int): Int = {
    val spark = df.sparkSession
    val width = math.max(1,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    if (buckets > 0) buckets
    else {
      val bytes =
        try df.queryExecution.optimizedPlan.stats.sizeInBytes
        catch { case _: Throwable => BigInt(-1) }
      if (bytes < 0) width
      else (((bytes + (32L << 20) - 1) / (32L << 20)) min BigInt(width))
        .max(BigInt(1)).toInt
    }
  }

  /** Shared pass: stage `df` range-partitioned on `sort` with its slice
    * id appended as `__pid` (non-decreasing along `sort`). */
  private def rangeBucket(df: DataFrame, sort: Seq[Column],
      buckets: Int): DataFrame = {
    val nb = derivedBuckets(df, buckets)
    graft.Staging.persist(df.repartitionByRange(nb, sort: _*)
      .withColumn("__pid", spark_partition_id()))
  }

  /** Append the exact 1-based global `row_number()` by `sort` as column
    * `out` (LongType), without a single-partition sort: range-partition
    * on `sort` (ordered disjoint slices), sort within each slice, then
    * `zipWithIndex` — the minimal distributed global rank (ONE shuffle
    * plus one lightweight count job for the per-partition offsets; no
    * window, no persist, no broadcast). The RDD hop is deliberate:
    * zipWithIndex's offset pass is exactly the per-slice count +
    * prefix-shift the declarative formulation needs a second shuffle, a
    * cache, and a partitioned window to express, and the rank column is
    * a pure bijection of row order — nothing for Catalyst to optimize
    * through. Output ranks are exact for ANY total `sort` regardless of
    * how the sampled range boundaries balance.
    *
    * The result is a fresh `LogicalRDD` root: each consumer re-runs the
    * rank pipeline, so callers that fan out (e.g. [[Graph.nodeIds]])
    * should stage the result. CHAINED calls must stage EVERY layer:
    * each unstaged level doubles the upstream execution count
    * (zipWithIndex's offset count job is one consumer, the downstream
    * read is another), so N chained unstaged ranks re-run the source
    * 2^N times — q158's three RFM dimensions stage `cust` and each
    * layer via `Staging.persist` for exactly this reason.
    *
    * @param sort    total order (include a unique tie-break key)
    * @param buckets range-slice count; defaults to
    *                `spark.sql.shuffle.partitions`
    */
  def globalRowNumber(df: DataFrame, out: String, sort: Seq[Column],
      buckets: Int = 0): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = df.sparkSession
    val nb = derivedBuckets(df, buckets)
    val parted = df.repartitionByRange(nb, sort: _*)
      .sortWithinPartitions(sort: _*)
    val schema = StructType(
      parted.schema.fields :+ StructField(out, LongType, nullable = false))
    val rows = parted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1L)) }
    spark.createDataFrame(rows, schema)
  }

  /** Append the strict-prefix running MAX of `value` under the total
    * order `sort` as column `out` (NULL for the global first row — the
    * `max(...) OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED PRECEDING AND
    * 1 PRECEDING)` contract), without a single-partition sort: running
    * max within each range slice via a partitioned window, plus the max
    * over all LOWER slices via the same triangular broadcast join
    * [[globalRowNumber]] uses for offsets. Requires `sort` total; range
    * partitioning keeps every predecessor of a row in its own or a lower
    * slice, so prefix semantics hold for any total `sort`. */
  def strictPrefixMax(df: DataFrame, out: String, sort: Seq[Column],
      value: Column, buckets: Int = 0): DataFrame = {
    val bucketed = rangeBucket(df, sort, buckets)
    val bmax = graft.Staging.persist(
      bucketed.groupBy(col("__pid")).agg(max(value).as("__bm")))
    val lower = bmax.as("a")
      .join(broadcast(bmax.as("b")), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(max(col("b.__bm")).as("__lowmax"))
    val w = Window.partitionBy(col("__pid")).orderBy(sort: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .withColumn("__wmax", max(value).over(w))
      .join(broadcast(lower), "__pid")
      .withColumn(out, greatest(
        coalesce(col("__wmax"), col("__lowmax")),
        coalesce(col("__lowmax"), col("__wmax"))))
      .drop("__pid", "__wmax", "__lowmax")
  }

  /** Append the INCLUSIVE running sums of each `(value, out)` pair under
    * the total order `sort` — the
    * `sum(v) OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED PRECEDING AND
    * CURRENT ROW)` contract — without a single-partition sort: running
    * sums within each range slice via a partitioned window, plus the
    * totals of all LOWER slices via the triangular broadcast join
    * [[globalRowNumber]] uses for offsets. All requested sums share one
    * partitioning pass and one window, so a CDF pair (the KS / AUC /
    * Mann–Whitney shape) costs the same as a single sum. Values must be
    * integral (per-slice totals coalesce with `0L`); `sort` must be
    * total, as for the siblings. */
  def prefixSums(df: DataFrame, sort: Seq[Column],
      values: Seq[(Column, String)], buckets: Int = 0): DataFrame = {
    // Staged: the bucketed frame is consumed TWICE (the per-slice
    // totals and the per-slice window) — unstaged, the caller's whole
    // upstream (often a tokenize/fan-out pipeline) re-executes for
    // each consumer.
    val bucketed = graft.Staging.persist(rangeBucket(df, sort, buckets))
    val btotAggs = values.zipWithIndex.map { case ((v, _), i) =>
      sum(v).as(s"__bt$i") }
    val btot = graft.Staging.persist(
      bucketed.groupBy(col("__pid")).agg(btotAggs.head, btotAggs.tail: _*))
    val lowAggs = values.indices.map { i =>
      coalesce(sum(col(s"b.__bt$i")), lit(0L)).as(s"__low$i") }
    val lower = btot.as("a")
      .join(broadcast(btot.as("b")), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(lowAggs.head, lowAggs.tail: _*)
    val w = Window.partitionBy(col("__pid")).orderBy(sort: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed = values.zipWithIndex.foldLeft(bucketed) {
      case (d, ((v, _), i)) => d.withColumn(s"__w$i", sum(v).over(w))
    }
    val summed = values.zipWithIndex.foldLeft(
      windowed.join(broadcast(lower), "__pid")) {
      case (d, ((_, out), i)) =>
        d.withColumn(out, col(s"__w$i") + col(s"__low$i"))
    }
    summed.drop("__pid" +: values.indices.flatMap(i =>
      Seq(s"__w$i", s"__low$i")): _*)
  }

  /** `ntile(k)` reconstructed from an exact 1-based global rank `rn` and
    * the total row count `n` — SQL-standard bucket sizing (the first
    * `n % k` buckets take the extra row), so it hash-matches
    * `ntile(k) OVER (ORDER BY ...)` with the same total order. */
  def ntileFromRank(rn: Column, n: Column, k: Int): Column = {
    val base = floor(n / k).cast("long")
    val rem = n - base * k
    val cut = rem * (base + 1)
    when(rn <= cut, floor((rn - 1) / (base + 1)).cast("long") + 1)
      .otherwise(rem + floor((rn - cut - 1) / greatest(base, lit(1L)))
        .cast("long") + 1)
  }
}
