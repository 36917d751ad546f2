package graft

import graft.operators.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relational operators (SURVEY §2.C R9/R11 + as-of join). */
class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("argmaxWithTies preserves every max attainer") {
    val df = Seq(("a", 3L), ("b", 5L), ("c", 5L), ("d", 1L)).toDF("k", "v")
    val out = Relational.argmaxWithTies(df, col("v")).as[(String, Long)].collect().toSet
    assert(out == Set(("b", 5L), ("c", 5L)))
  }

  test("argmaxWithTies single max") {
    val df = Seq(("a", 3L), ("b", 5L)).toDF("k", "v")
    assert(Relational.argmaxWithTies(df, col("v")).as[(String, Long)].collect().toSet ==
      Set(("b", 5L)))
  }

  test("fkOrphans flags only non-null unmatched keys") {
    val child = Seq((1L, Some(10L)), (2L, Some(99L)), (3L, None)).toDF("id", "fk")
    val parent = Seq(10L, 20L).toDF("pk")
    val orphans = Relational.fkOrphans(child, "fk", parent, "pk")
      .select("id").as[Long].collect().toSeq
    assert(orphans == Seq(2L)) // NULL fk row 3 is exempt per SQL FK semantics
  }

  test("pkDuplicates finds multiplicity > 1") {
    val df = Seq(1L, 2L, 2L, 3L, 3L, 3L).toDF("pk")
    val dups = Relational.pkDuplicates(df, "pk")
      .as[(Long, Long)].collect().toMap
    assert(dups == Map(2L -> 2L, 3L -> 3L))
  }

  test("integrity equals count, pkDuplicates and summed fkOrphans in one action") {
    // pk 1 three times; two NULL pks (one duplicate key, as in groupBy);
    // NULL fks are exempt; orphan fk 99 repeats; the parent has a
    // duplicate and a NULL key.
    val child = Seq[(Option[Long], Option[Long], Option[Long])](
      (Some(1L), Some(10L), Some(10L)), (Some(1L), Some(10L), Some(99L)),
      (Some(1L), None, None), (Some(2L), Some(99L), Some(10L)),
      (Some(3L), Some(99L), Some(20L)), (None, Some(98L), Some(10L)),
      (None, None, Some(99L)), (Some(4L), Some(20L), None),
      (Some(5L), Some(97L), Some(10L))).toDF("id", "fk", "fk2")
    val parent = Seq(Some(10L), Some(10L), Some(20L), None).toDF("pk")
    val fks = Seq(("fk", parent, "pk"), ("fk2", parent, "pk"))

    def integrity(df: DataFrame, fks: (String, DataFrame, String)*) =
      Relational.integrity(df, "id", fks: _*).as[(Long, Long, Long, Long)].head()
    val plan = Relational.integrity(child, "id", fks: _*).queryExecution.optimizedPlan
    assert(plan.toString.contains("ExistenceJoin"), plan)

    // (rows, pk_duplicates, pk_nulls, fk_orphans)
    assert(integrity(child, fks: _*) == ((child.count(),
      Relational.pkDuplicates(child, "id").count(),
      child.where(col("id").isNull).count(),
      fks.map { case (fk, p, pk) => Relational.fkOrphans(child, fk, p, pk).count() }.sum)))
    assert(integrity(child, fks: _*) == ((9L, 2L, 2L, 6L)))
    assert(integrity(child.limit(0), fks: _*) == ((0L, 0L, 0L, 0L)))
    // A single NULL pk is no duplicate, but it is a violation.
    assert(integrity(Seq(Some(1L), None).toDF("id")) == ((2L, 0L, 1L, 0L)))
  }

  test("saltedJoin returns exactly the plain join's rows (incl. skewed key)") {
    // 90% of left rows share key 1 — the skew case salting targets.
    val left = ((1 to 90).map(i => (1L, i.toLong)) ++ Seq((2L, 91L), (3L, 92L)))
      .toDF("k", "payload")
    val right = Seq((1L, "a"), (2L, "b"), (4L, "d")).toDF("rk", "name")
    val plain = left.join(right, col("k") === col("rk"))
      .select("k", "payload", "name").as[(Long, Long, String)].collect().sorted.toSeq
    val salted = Relational.saltedJoin(left, "k", "payload", right, "rk", 4)
      .select("k", "payload", "name").as[(Long, Long, String)].collect().sorted.toSeq
    assert(salted == plain)
    assert(plain.count(_._1 == 1L) == 90)
  }

  test("approx_count_distinct within HLL++ error bound of exact") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = events.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx"),
        countDistinct(col("user_id")).as("exact"))
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (t, approx, exact) =>
      assert(math.abs(approx - exact).toDouble / exact < 0.1,
        s"$t: approx=$approx exact=$exact")
    }
  }

  test("Observation collects metrics from the job without a second scan") {
    // The runtime-metrics discipline at scale: quality counters ride the
    // main action instead of costing a second pass over 100 TB.
    val obs = new org.apache.spark.sql.Observation("ingest_metrics")
    val df = Tables.orders(spark, "/root/testdata/sf0.001")
      .observe(obs, count(lit(1)).as("rows"),
        sum(when(col("o_totalprice") <= 0, 1).otherwise(0)).as("bad_price"))
    val n = df.count()
    val m = obs.get
    assert(m("rows") == n)
    assert(m("bad_price") == 0L)
  }

  test("locfInterpolate: linear mid-gap, LOCF tail, backfill head, all-null partition") {
    val rows = Seq(
      // key 1: reading 10 at t=0s, gap at 2s and 3s, reading 40 at 4s,
      // trailing gap at 6s (LOCF), leading gap handled by key 2.
      (1L, 1L, 0L, Some(10.0)),
      (2L, 1L, 2000L, None), // 2/4 of the way: 10 + 30*0.5 = 25
      (3L, 1L, 3000L, None), // 3/4: 10 + 30*0.75 = 32.5
      (4L, 1L, 4000L, Some(40.0)),
      (5L, 1L, 6000L, None), // after last reading -> LOCF 40
      (6L, 2L, 1000L, None), // before first reading -> backfill 7
      (7L, 2L, 5000L, Some(7.0)),
      (8L, 3L, 1000L, None)  // partition with no readings -> null
    ).toDF("id", "k", "ms", "reading")
      .select(col("id"), col("k"),
        org.apache.spark.sql.functions.timestamp_millis(col("ms")).as("ts"),
        col("reading"))
    val got = Relational.locfInterpolate(rows, "k", "ts", "id", "reading")
      .select(col("id"), col("filled")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(got(2L).contains(25.0))
    assert(got(3L).contains(32.5))
    assert(got(5L).contains(40.0))
    assert(got(6L).contains(7.0))
    assert(got(8L).isEmpty)
  }

  test("AQE splits skewed join partitions at runtime (the salting alternative)") {
    // One hot key carrying ~99% of a 200k-row fact side, sort-merge
    // joined (broadcast disabled) against a small dim. With the skew
    // thresholds scaled down to this data size, AQE must mark the hot
    // partition skewed and split it — the runtime counterpart of the
    // manual salted join in q39.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.shuffle.partitions" -> "8")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val fact = spark.range(200000).select(
        when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id") % 50).as("k"),
        col("id").as("payload"))
      val dim = spark.range(50).select(col("id").as("k"),
        concat(lit("d"), col("id")).as("name"))
      val joined = fact.join(dim, "k")
      // collect() drives THIS QueryExecution (count() would build its own
      // plan and leave `joined`'s adaptive plan unexecuted → isFinalPlan=false).
      assert(joined.collect().length == 200000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan.take(500))
      assert(plan.contains("skew=true"), plan.take(2000))
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("join strategy hints select the hinted physical join") {
    val dir = "/root/testdata/sf0.001"
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    def physical(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // BROADCAST beats the size heuristic; SHUFFLE_HASH / MERGE override
    // the default pick — the three knobs a 100 TB join tuning session
    // actually turns.
    val b = c.hint("broadcast").join(o, col("c_custkey") === col("o_custkey"))
    assert(physical(b).contains("BroadcastHashJoin"), physical(b))
    val sh = c.hint("shuffle_hash").join(o, col("c_custkey") === col("o_custkey"))
    assert(physical(sh).contains("ShuffledHashJoin"), physical(sh))
    val m = c.hint("merge").join(o, col("c_custkey") === col("o_custkey"))
    assert(physical(m).contains("SortMergeJoin"), physical(m))
    // All three compute the same rows.
    assert(b.count() == sh.count() && sh.count() == m.count())
  }

  test("approx_percentile within relative bound of exact percentile") {
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val rows = orders.groupBy(col("o_orderstatus"))
      .agg(approx_percentile(col("o_totalprice"), lit(0.5), lit(1000)).as("approx"),
        percentile(col("o_totalprice"), lit(0.5)).as("exact"))
      .as[(String, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (st, approx, exact) =>
      // accuracy=1000 → rank error ≤ 1/1000 of the group; on this value
      // range that lands well inside 5% relative.
      assert(math.abs(approx - exact) / exact < 0.05,
        s"$st: approx=$approx exact=$exact")
    }
  }

  test("asofJoin picks latest right row at or before left time, null when none") {
    val left = Seq(
      (1L, 1L, 5L), // key 1 at t=5  -> right (1, t=3) price 30
      (2L, 1L, 3L), // key 1 at t=3  -> right (1, t=3) inclusive match
      (3L, 1L, 2L), // key 1 at t=2  -> right (1, t=1) price 10
      (4L, 2L, 9L), // key 2 at t=9  -> no right rows -> null
      (5L, 3L, 0L)  // key 3 at t=0  -> right only at t=4 -> null
    ).toDF("eid", "k", "t")
    val right = Seq((1L, 1L, 10L), (1L, 3L, 30L), (3L, 4L, 99L))
      .toDF("rk", "rt", "price")
    val out = Relational.asofJoin(left, "k", "t", right, "rk", "rt")
      .select("eid", "price").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(out == Map(
      1L -> Some(30L), 2L -> Some(30L), 3L -> Some(10L), 4L -> None, 5L -> None))
  }

  test("asofJoin attaches the latest right row as-is, NULL fields included") {
    // Latest right row has a genuinely-NULL field: per-column
    // last(ignoreNulls) would stitch a=5 from the older row; correct
    // ASOF semantics give (a=NULL, b=7).
    val left = Seq((1L, 3L)).toDF("k", "t")
    val right = Seq(
      (1L, 1L, Some(5L), Some(8L)),
      (1L, 2L, Option.empty[Long], Some(7L))
    ).toDF("rk", "rt", "a", "b")
    val row = Relational.asofJoin(left, "k", "t", right, "rk", "rt")
      .select("a", "b").collect().head
    assert(row.isNullAt(0))
    assert(row.getLong(1) == 7L)
  }

  test("asofJoin works with string keys") {
    val left = Seq(("u1", 5L), ("u2", 5L)).toDF("k", "t")
    val right = Seq(("u1", 1L, 7L)).toDF("rk", "rt", "payload")
    val out = Relational.asofJoin(left, "k", "t", right, "rk", "rt")
      .select("k", "payload").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out == Map("u1" -> Some(7L), "u2" -> None))
  }

  test("asofJoinForward picks earliest right row at or after left time") {
    val left = Seq((1L, 10L), (1L, 20L), (1L, 31L), (2L, 5L)).toDF("k", "t")
    val right = Seq((1L, 10L, 100L), (1L, 25L, 200L), (1L, 30L, 300L))
      .toDF("rk", "rt", "v")
    val out = Relational.asofJoinForward(left, "k", "t", right, "rk", "rt")
      .select("k", "t", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(out == Map(
      (1L, 10L) -> Some(100L), // equal timestamps match
      (1L, 20L) -> Some(200L), // next following
      (1L, 31L) -> None,       // nothing after
      (2L, 5L) -> None))       // no right rows for key
  }
}
