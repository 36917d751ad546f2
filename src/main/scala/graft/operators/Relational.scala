package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable relational operators the reference's SQL surface implies but
  * Spark has no single built-in for (SURVEY.md §2.C R9, R11).
  */
object Relational {

  /** Jaro–Winkler similarity via the codegen'd custom expression
    * ([[graft.expressions.JaroWinkler]]) — the fuzzy-name comparator for
    * blocked entity resolution (er5), DuckDB-parity semantics. */
  def jaroWinkler(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.JaroWinkler(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** All rows attaining the global max of `metric` — *ties preserved*
    * (SURVEY R9: both nontrivial reference queries
    * `/root/reference/sql/blog_post_queries.sql:13-17,35-38` return every
    * max attainer, so `limit(1)` / `max_by` would be wrong).
    *
    * Scale note: implemented as a broadcast join against the 1-row global
    * max, NOT `rank().over(Window.orderBy(...))` — an un-partitioned window
    * funnels the whole table through a single task, which is unacceptable
    * at 100 TB. This shape is two streaming passes over the data with a
    * broadcast of one row.
    */
  def argmaxWithTies(df: DataFrame, metric: Column): DataFrame = {
    val maxRow = df.agg(max(metric).as("__graft_max"))
    df.join(broadcast(maxRow), metric === col("__graft_max"), "inner")
      .drop("__graft_max")
  }

  /** Rows of `child` whose `fk` has no match in `parent.pk` — the engine's
    * form of the reference's FK constraints
    * (`/root/reference/sql/blog_post_definitions.sql:44-53,62-67,76-81`).
    * Empty result ⇔ integrity holds. NULL fks are not orphans (SQL FK
    * semantics: NULL is exempt). */
  def fkOrphans(child: DataFrame, fk: String, parent: DataFrame, pk: String): DataFrame = {
    // Alias the parent key so a child column with the same name (e.g.
    // posts.id vs users.id) can't make the join condition ambiguous.
    val parentKeys = parent.select(col(pk).as("__graft_pk"))
    child.where(col(fk).isNotNull)
      .join(parentKeys, col(fk) === col("__graft_pk"), "left_anti")
  }

  /** Primary-key violation rows: `pk` values occurring more than once.
    * Empty result ⇔ uniqueness holds. */
  def pkDuplicates(df: DataFrame, pk: String*): DataFrame =
    df.groupBy(pk.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .where(col("n_rows") > 1)

  /** Every post-load check on `df` as ONE row, so one action computes
    * them all: `rows`; `pk_duplicates`, the `pk` values occurring more
    * than once (as `pkDuplicates(df, pk).count()`: NULLs group as one
    * key); `pk_nulls`, the rows with a NULL `pk` (a Postgres PRIMARY KEY
    * implies NOT NULL); and `fk_orphans`, the orphan rows of each
    * `(fk, parent, parentPk)` summed over `fks` (as the summed
    * `fkOrphans(...).count()`).
    *
    * One grouping by `pk` counts rows per key and, in the same pass, sums
    * a per-row orphan flag; one global aggregate over the groups yields
    * the row. The flag is an `EXISTS` against the parent key, which
    * Catalyst plans as an existence join (broadcast for a small parent):
    * no `distinct()` over the parent, and duplicate parent keys cannot
    * inflate the counts. */
  def integrity(df: DataFrame, pk: String,
      fks: (String, DataFrame, String)*): DataFrame = {
    val orphans = fks.map { case (fk, parent, parentPk) =>
      val matched = parent.select(col(parentPk).as("__graft_pk"))
        .where(col("__graft_pk") === col(fk).outer()).exists()
      when(col(fk).isNotNull && !matched, 1L).otherwise(0L)
    }.foldLeft(lit(0L))(_ + _)
    df.select(col(pk).as("__graft_key"), orphans.as("__graft_orphan"))
      .groupBy("__graft_key")
      .agg(count(lit(1)).as("n"), sum("__graft_orphan").as("o"))
      .agg(
        coalesce(sum("n"), lit(0L)).as("rows"),
        count(when(col("n") > 1, 1)).as("pk_duplicates"),
        coalesce(sum(when(col("__graft_key").isNull, col("n"))), lit(0L)).as("pk_nulls"),
        coalesce(sum("o"), lit(0L)).as("fk_orphans"))
  }

  /** Skew-mitigating salted equi-join (inner). The hot side's key is
    * salted with a deterministic hash of `saltOn` (a high-cardinality
    * column of `left`), the build side is replicated once per salt value,
    * and the join key becomes (key, salt) — a hot key's rows spread over
    * `saltFactor` reducers instead of one. Result set is identical to the
    * plain join (verified against the unsalted oracle).
    *
    * When to use: only when one reduce key dominates (power-law keys at
    * 100 TB) AND AQE's skew-join split (on by default in Spark 4) is not
    * applicable — e.g. the skew appears in a grouped aggregation feeding
    * the join, or the join is not sort-merge. Costs `saltFactor`× the
    * build side's shuffle volume; keep the build side the small one. */
  def saltedJoin(left: DataFrame, leftKey: String, saltOn: String,
      right: DataFrame, rightKey: String, saltFactor: Int): DataFrame = {
    val salted = left.withColumn("__salt", pmod(xxhash64(col(saltOn)), lit(saltFactor)))
    val replicated = right
      .withColumn("__salt", explode(sequence(lit(0), lit(saltFactor - 1))))
      .withColumn("__salt", col("__salt").cast("long"))
    salted.join(replicated,
        salted(leftKey) === replicated(rightKey) && salted("__salt") === replicated("__salt"))
      .drop("__salt")
  }

  /** As-of join: attach to every left row the payload of the latest right
    * row with `rightTime <= leftTime` for the same key (NULLs when no such
    * row). Spark has no built-in; the classic theta-join formulation
    * (`l.key = r.key AND r.time <= l.time` + argmax) degenerates to a
    * per-key cross product, so this implements the scalable
    * union-and-carry-forward shape instead:
    *
    *   tag sides → union → one shuffle on key → in-partition sort by
    *   (time, tag) → `last(payload, ignoreNulls)` running window →
    *   keep left rows.
    *
    * One shuffle + one sort total, independent of match multiplicity —
    * the same plan a dedicated as-of operator would produce. Equal
    * timestamps match inclusively (right sorts before left at the same
    * instant).
    *
    * Contract: `right` must be unique per (key, time) — pre-aggregate it
    * otherwise (multiple right rows at the same instant would make
    * "latest" ambiguous; DuckDB's ASOF JOIN has the same requirement).
    * Left/right non-key column names must not collide.
    */
  def asofJoin(
      left: DataFrame, leftKey: String, leftTime: String,
      right: DataFrame, rightKey: String, rightTime: String): DataFrame = {
    val payloadCols = right.columns.filterNot(c => c == rightKey || c == rightTime).toSeq
    val leftCols = left.columns.toSeq

    // Key columns unify on the LEFT key's type (works for any key type —
    // a fixed numeric cast would null out string keys).
    val keyType = left.schema(leftKey).dataType
    val lPart = left.select(
      Seq(col(leftKey).cast(keyType).as("__k"), col(leftTime).as("__t"), lit(1).as("__tag")) ++
        leftCols.map(col) ++
        payloadCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)
    val rPart = right.select(
      Seq(col(rightKey).cast(keyType).as("__k"), col(rightTime).as("__t"), lit(0).as("__tag")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        payloadCols.map(col): _*)

    val w = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Carry the payload as ONE struct: `last(ignoreNulls)` per column
    // would stitch together values from different right rows whenever a
    // right row holds a genuine NULL (ASOF must attach the latest right
    // row as-is, NULL fields included). Right rows carry a non-null
    // struct; left rows carry NULL, so the last non-null struct IS the
    // latest whole right row.
    val payloadStruct = when(col("__tag") === 0,
      struct(payloadCols.map(col): _*)).otherwise(lit(null))
    lPart.unionByName(rPart)
      .withColumn("__payload", last(payloadStruct, ignoreNulls = true).over(w))
      .where(col("__tag") === 1)
      .select(leftCols.map(col) ++
        payloadCols.map(c => col(s"__payload.$c").as(c)): _*)
  }

  /** FORWARD as-of join: each left row attaches the EARLIEST right row
    * with the same key and `rightTime >= leftTime` (the look-ahead twin
    * of [[asofJoin]] — "next scheduled event", "following price tick").
    * Same union-and-carry plan with the frame reversed: one shuffle on
    * the key, one ordered window, first following non-null payload
    * struct. Equal timestamps match (left sorts before right at the
    * same instant, so the equal-time right row is inside the following
    * frame) — mirroring DuckDB's `ASOF ... ON l.t <= r.t`. */
  def asofJoinForward(
      left: DataFrame, leftKey: String, leftTime: String,
      right: DataFrame, rightKey: String, rightTime: String): DataFrame = {
    val payloadCols = right.columns.filterNot(c => c == rightKey || c == rightTime).toSeq
    val leftCols = left.columns.toSeq
    val keyType = left.schema(leftKey).dataType
    val lPart = left.select(
      Seq(col(leftKey).cast(keyType).as("__k"), col(leftTime).as("__t"), lit(0).as("__tag")) ++
        leftCols.map(col) ++
        payloadCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)
    val rPart = right.select(
      Seq(col(rightKey).cast(keyType).as("__k"), col(rightTime).as("__t"), lit(1).as("__tag")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        payloadCols.map(col): _*)
    val w = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__tag"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val payloadStruct = when(col("__tag") === 1,
      struct(payloadCols.map(col): _*)).otherwise(lit(null))
    lPart.unionByName(rPart)
      .withColumn("__payload", first(payloadStruct, ignoreNulls = true).over(w))
      .where(col("__tag") === 0)
      .select(leftCols.map(col) ++
        payloadCols.map(c => col(s"__payload.$c").as(c)): _*)
  }

  /** Time-series gap fill: rows where `readingCol` is NULL get a value
    * linearly interpolated between the nearest non-null readings before
    * and after (by `tsCol` within `partCol`); one-sided gaps fall back to
    * last-observation-carried-forward (or backfill at the head). The
    * interpolation weight uses integer millisecond deltas, so the double
    * arithmetic is order-independent and engine-portable.
    *
    * Two window passes over one partitioning (backward and forward
    * running frames share the same shuffle+sort — Catalyst plans ONE
    * Exchange and one Sort for both), no joins, no state. Appends
    * `filledCol`; `orderCol` breaks timestamp ties so the fill is
    * deterministic. */
  def locfInterpolate(df: DataFrame, partCol: String, tsCol: String,
      orderCol: String, readingCol: String,
      filledCol: String = "filled"): DataFrame = {
    val base = Window.partitionBy(col(partCol)).orderBy(col(tsCol), col(orderCol))
    val back = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val reading = col(readingCol)
    val readTs = when(reading.isNotNull, col(tsCol))
    val prevV = last(reading, ignoreNulls = true).over(back)
    val prevT = last(readTs, ignoreNulls = true).over(back)
    val nextV = first(reading, ignoreNulls = true).over(fwd)
    val nextT = first(readTs, ignoreNulls = true).over(fwd)
    val gapMs = unix_millis(nextT.cast("timestamp")) - unix_millis(prevT.cast("timestamp"))
    val posMs = unix_millis(col(tsCol).cast("timestamp")) - unix_millis(prevT.cast("timestamp"))
    val linear = when(prevV.isNotNull && nextV.isNotNull && gapMs > 0,
      prevV + (nextV - prevV) * posMs / gapMs)
    df.withColumn(filledCol, coalesce(reading, linear, prevV, nextV))
  }

  /** Per-partition row counts — the first diagnostic for shuffle skew
    * (one reducer doing all the work looks exactly like this: one pid
    * with ~all the rows). `spark_partition_id` is plan-dependent, so
    * this is an operational probe, not a deterministic query — pair
    * with `saltedJoin`/AQE once the hot partition is identified. */
  def partitionStats(df: DataFrame): DataFrame =
    df.groupBy(spark_partition_id().as("pid"))
      .agg(count(lit(1)).as("n_rows"))

  /** SCD2 (type-2 slowly-changing-dimension) merge: apply an update batch
    * to a dimension, versioning changed rows instead of overwriting —
    * the scale-correct incremental alternative to the reference's
    * DELETE-then-INSERT full refresh
    * (`/root/reference/dags/users_etl.py:206-214`): at 100 TB a full
    * refresh rewrites the world every run; SCD2 touches only changed keys
    * and preserves history for point-in-time queries.
    *
    * Input: `current` (the live dimension, one row per `key`) and
    * `updates` (the batch, one row per `key`). Output rows
    * (`key`, tracked..., `version`, `is_current`):
    *  - every current row, version 1; `is_current` stays true unless the
    *    batch changed one of `tracked`;
    *  - a version-2 row for each changed key, and a version-1 row for
    *    each brand-new key — both current.
    * No-op updates (batch row equal on all tracked columns) produce no
    * new version: idempotent re-runs of the same batch are free.
    *
    * One shuffle (the full outer join on `key`); comparisons are
    * null-safe (`<=>`). Unchanged-at-scale note: with both sides
    * bucketed by `key` the join is shuffle-free. */
  def scd2Merge(current: DataFrame, updates: DataFrame, key: String,
      tracked: Seq[String]): DataFrame = {
    val u = updates.select(
      (col(key).as("__k") +: tracked.map(c => col(c).as(s"__u_$c"))): _*)
    val joined = current.join(u, col(key) === col("__k"), "full_outer")
    val changed = tracked.map(c => !(col(s"__u_$c") <=> col(c))).reduce(_ || _)
    val hasUpdate = col("__k").isNotNull
    val hasCurrent = col(key).isNotNull
    // ONE pass over the join: a filter-then-union of old/new branches
    // would embed the full outer join twice in the plan (the branch
    // filters sit above different projections, so nothing is reused) —
    // instead each joined row emits 0-2 output structs (NULL-slot array,
    // compacted) and one explode flattens them. At 100 TB this halves
    // the dominant cost (the join).
    def rowStruct(k: Column, vals: Seq[Column], version: Column, isCurrent: Column) =
      struct((k.as(key) +: tracked.zip(vals).map { case (c, v) => v.as(c) }) ++
        Seq(version.as("version"), isCurrent.as("is_current")): _*)
    val oldStruct = rowStruct(col(key), tracked.map(col),
      lit(1), !(hasUpdate && changed))
    val newStruct = rowStruct(col("__k"), tracked.map(c => col(s"__u_$c")),
      when(hasCurrent, 2).otherwise(1), lit(true))
    joined
      .select(explode(filter(array(
        when(hasCurrent, oldStruct),
        when(hasUpdate && (!hasCurrent || changed), newStruct)),
        x => x.isNotNull)).as("__r"))
      .select(col("__r.*"))
  }

  /** Deterministic weighted sample without replacement (Efraimidis–
    * Spirakis A-ES): every row draws `key = ln(u)/weight` with `u` a
    * portable-hash uniform in (0,1], and the `k` largest keys win — a
    * row's inclusion probability is proportional to its weight, and the
    * whole draw replays bit-for-bit from the id column alone (no RNG
    * state). Keys are fixed-pointed to µ-units BEFORE ranking, so libm
    * `ln` ulp differences across engines cannot reorder the sample; id
    * breaks ties. One map-side scan + a bounded top-k
    * (`TakeOrderedAndProject`) — no shuffle of the data.
    *
    * Weights must be strictly positive. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    val h = pmod(conv(substring(md5(col(idCol).cast("string").cast("binary")),
      1, 8), 16, 10).cast("long"), lit(2147483647L))
    val u = (h + 1).cast("double") / 2147483648.0
    val key = log(u) / col(weightCol)
    df.select(col(idCol), col(weightCol).as("weight"),
        floor(key * 1000000.0 + 0.5).cast("long").as("key_bp"))
      .orderBy(col("key_bp").desc, col(idCol))
      .limit(k)
  }

  /** Exact quantiles by distributed sort + order-statistic lookup,
    * returning interpolated values with `percentile()`'s exact formula
    * (`(⌈p⌉−p)·v_lo + (p−⌊p⌋)·v_hi`, position `p = q·(n−1)` — the
    * symmetric weighting Spark's `Percentile.getPercentile` uses; the
    * mathematically-equal `v_lo + (v_hi−v_lo)·frac` differs in the last
    * ulp, caught by the `QuantileDiffProps` property against the
    * aggregate on arbitrary doubles).
    *
    * Why not the `percentile()` aggregate: its partial state is a
    * value→count map, so for near-continuous columns (583k distinct of
    * 600k at sf0.1) the final single-reducer merge materializes and
    * sorts ~the whole column on one core — the aggregate is only
    * scale-safe for low-cardinality columns. A distributed sort is the
    * scale-correct exact algorithm: range-partitioned, every stage
    * parallel, and the driver receives exactly `2·|qs|` doubles.
    * (`sortBy` + `zipWithIndex` is genuine per-partition index logic —
    * the rare legitimate RDD drop-down.) */
  def exactQuantiles(df: DataFrame, colName: String, qs: Seq[Double]): Seq[Double] = {
    val vals = df.select(col(colName).cast("double")).where(col(colName).isNotNull)
    val n = vals.count()
    require(n > 0, s"exactQuantiles: no non-null values in $colName")
    val positions = qs.map(q => q * (n - 1))
    val needed = positions.flatMap(p => Seq(p.floor.toLong, p.ceil.toLong)).toSet
    val found = vals.rdd.map(_.getDouble(0)).sortBy(identity)
      .zipWithIndex().filter { case (_, i) => needed.contains(i) }
      .map(_.swap).collectAsMap()
    positions.map { p =>
      val (lo, hi) = (p.floor.toLong, p.ceil.toLong)
      // Tie short-circuit mirrors Percentile.getPercentile: when the two
      // neighboring sorted values are equal it returns the value itself —
      // interpolating would drift a ULP ((hi-p)*v + (p-lo)*v != v).
      if (lo == hi || found(lo) == found(hi)) found(lo)
      else (hi - p) * found(lo) + (p - lo) * found(hi)
    }
  }

  /** Row-level diff of two table snapshots sharing a schema and a key:
    * one row per key whose state differs, with `status` in
    * {added, removed, changed} and `changed_cols` naming the differing
    * columns (empty unless changed). The data-reconciliation primitive
    * (CDC validation, migration cutover checks, replica drift audits);
    * the reference's full-refresh loads (DELETE-then-INSERT,
    * `/root/reference/dags/users_etl.py:206-214`) have exactly this
    * before/after shape.
    *
    * Scale: ONE full-outer sort-merge join co-partitioned on the key —
    * both sides shuffle once, AQE splits skewed keys. Payloads ride as
    * single structs so the shuffle width is the data width, and the
    * per-column compare is null-safe codegen'd Column math. For very
    * wide schemas, pre-hash the payload and compare fingerprints first,
    * falling back to column compare only on mismatched keys. */
  def snapshotDiff(a: DataFrame, b: DataFrame, key: String): DataFrame = {
    val cols = a.columns.filterNot(_ == key).toSeq
    val aa = a.select(col(key), struct(cols.map(col): _*).as("__a"))
    val bb = b.select(col(key), struct(cols.map(col): _*).as("__b"))
    val joined = aa.join(bb, Seq(key), "full_outer")
    val diffs = cols.map(c =>
      when(!(col(s"__a.$c") <=> col(s"__b.$c")), lit(c)))
    val changedCols = filter(array(diffs: _*), x => x.isNotNull)
    val status = when(col("__a").isNull, lit("added"))
      .when(col("__b").isNull, lit("removed"))
      .when(size(changedCols) > 0, lit("changed"))
      .otherwise(lit("unchanged"))
    joined
      .select(col(key), status.as("status"),
        when(status === "changed", array_join(changedCols, ","))
          .otherwise(lit("")).as("changed_cols"))
      .where(col("status") =!= "unchanged")
  }
}
