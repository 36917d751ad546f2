package graft

import graft.operators.Relational
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Scale patterns: SCD2 merge semantics (versioning, idempotency) and
  * bloom-filter semi-join pruning (the shuffle-free alternative to a
  * distributed semi join when the key set fits a sketch). */
class ScalePatternSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dim = Seq(
    (1L, 10.0, "A"), (2L, 20.0, "B"), (3L, 30.0, "C")
  ).toDF("k", "bal", "seg")

  test("scd2Merge: changed keys version, unchanged keys pass, new keys insert") {
    val updates = Seq(
      (1L, 99.0, "A"), // changed balance -> close v1, open v2
      (2L, 20.0, "B"), // no-op update -> nothing new
      (9L, 1.0, "N")   // brand-new key -> v1 current
    ).toDF("k", "bal", "seg")
    val out = Relational.scd2Merge(dim, updates, "k", Seq("bal", "seg"))
      .as[(Long, Double, String, Int, Boolean)].collect().toSet
    assert(out == Set(
      (1L, 10.0, "A", 1, false), (1L, 99.0, "A", 2, true),
      (2L, 20.0, "B", 1, true),
      (3L, 30.0, "C", 1, true),
      (9L, 1.0, "N", 1, true)))
  }

  test("scd2Merge is idempotent: an all-no-op batch creates no versions") {
    val out = Relational.scd2Merge(dim, dim, "k", Seq("bal", "seg"))
    assert(out.count() == 3)
    assert(out.where(col("version") =!= 1 || !col("is_current")).count() == 0)
  }

  test("foreachBatch upsert: newest wins, retries idempotent, target swap atomic") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streams
    val dir = java.nio.file.Files.createTempDirectory("upsert").toFile
    val target = new java.io.File(dir, "t").getAbsolutePath
    def ev(id: Long, user: Long, v: Double, min: Int) = StreamingSpec.Ev(
      id, java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00"), user, "a", v, "{}")
    val mem = MemoryStream[StreamingSpec.Ev]
    mem.addData(Seq(ev(1, 1, 1.0, 1), ev(2, 2, 2.0, 2), ev(3, 1, 9.0, 9)))
    Streams.foreachBatchUpsert(mem.toDF(), target, "user_id", "ts")
    def snapshot() = spark.read.parquet(target)
      .select("user_id", "value").as[(Long, Double)].collect().toSet
    assert(snapshot() == Set((1L, 9.0), (2L, 2.0))) // newest ts wins per user
    // Second stream run: a late-arriving older row must NOT win; a newer
    // one must. (New stream instance = a retry/extension of the feed.)
    val mem2 = MemoryStream[StreamingSpec.Ev]
    mem2.addData(Seq(ev(4, 1, 0.5, 3), ev(5, 2, 7.0, 30)))
    Streams.foreachBatchUpsert(mem2.toDF(), target, "user_id", "ts")
    assert(snapshot() == Set((1L, 9.0), (2L, 7.0)))
    // Idempotency: re-applying an already-merged batch changes nothing.
    Streams.upsertInto(
      Seq(ev(5, 2, 7.0, 30)).toDF(), target, "user_id", "ts")
    assert(snapshot() == Set((1L, 9.0), (2L, 7.0)))
    // Each swap cleaned up after itself: no staged or set-aside copy.
    assert(dir.list().toSet == Set("t"), dir.list().mkString(", "))
  }

  test("partitionStats surfaces skew that a keyed repartition fixes") {
    import graft.operators.Relational
    val skewed = spark.range(10000).select(lit(1).as("k"), col("id"))
      .repartition(8, col("k")) // all rows hash to one partition
    val stats = Relational.partitionStats(skewed)
      .as[(Int, Long)].collect().toMap
    assert(stats.values.max == 10000L) // one hot partition holds everything
    val even = Relational.partitionStats(
        spark.range(10000).select(col("id")).repartition(8, col("id")))
      .as[(Int, Long)].collect()
    assert(even.map(_._2).sum == 10000L && even.map(_._2).max < 2500L)
  }

  test("bloom-filter pruning: zero false negatives, most non-members dropped") {
    // Big side: 20k rows, keys 0..1999; member set: 50 keys (multiples
    // of 40). At 100 TB the sketch replaces shuffling the big side for a
    // semi join: build once (aggregate), broadcast ~KBs, filter at scan.
    val big = spark.range(20000).select(col("id"), pmod(col("id"), lit(2000)).as("k"))
    val members = spark.range(50).select((col("id") * 40).as("k"))
    val bf = members.stat.bloomFilter("k", 50, 0.03)
    val mightContain = udf((k: Long) => bf.mightContain(k))
    val pruned = big.where(mightContain(col("k"))).select("id", "k")
    val exact = big.join(members, "k").select("id", "k")
    // No false negatives: every true member row survives pruning.
    assert(exact.exceptAll(pruned).count() == 0)
    // Effective: false-positive rate holds well under 10x the target.
    val kept = pruned.count().toDouble
    assert(kept >= exact.count())
    assert(kept <= big.count() * (50.0 / 2000 + 0.3))
  }

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed tables sort-merge join with ZERO exchanges") {
    // The co-location pattern for repeated large-table joins at 100 TB:
    // both sides bucketed+sorted on the join key at write time, so the
    // join is exchange-free AND sort-free — each task zips bucket i of
    // both tables. Broadcast disabled to prove it is bucketing (not
    // size) that removes the shuffle.
    val dir = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    val a = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong, s"s$i")).toDF("k", "vb")
    a.write.mode("overwrite").option("path", s"$dir/ta")
      .bucketBy(8, "k").sortBy("k").saveAsTable("graft_bucket_a")
    b.write.mode("overwrite").option("path", s"$dir/tb")
      .bucketBy(8, "k").sortBy("k").saveAsTable("graft_bucket_b")
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table("graft_bucket_a").join(spark.table("graft_bucket_b"), "k")
      assert(j.count() == 1000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    }
  }

  test("partitioned writes prune partitions at read time") {
    // The other half of the storage-layout story next to bucketing: a
    // status-partitioned copy of orders must answer a status-filtered
    // read from ONE directory — PartitionFilters in the scan, zero data
    // filters on the partition column.
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    val rd = spark.read.parquet(dir).where(col("o_orderstatus") === "O")
    val scan = rd.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("o_orderstatus"),
      s"partition filter not pushed:\n$scan")
    assert(rd.count() ==
      orders.where(col("o_orderstatus") === "O").count())
  }

  test("grid-bucketed spatial ops plan as equi-joins, never cross products") {
    // q147/q152's scale contract: the 3×3-neighborhood explode turns the
    // radius/adjacency predicate into a plain equi-join on the cell key —
    // if a refactor ever drops the cell columns from the join condition,
    // Catalyst would fall back to BroadcastNestedLoop/Cartesian and the
    // operator silently stops scaling. Pin the physical shape.
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("q147_geo_radius_join", "q152_dbscan_grid")) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$name degenerated to a non-equi join:\n$plan")
    }
  }

  test("item co-occurrence scan prunes to the two join columns") {
    // Anchor the assertion to the lineitem FileScan's ReadSchema — the
    // one place column pruning is authoritative. (A whole-plan-text
    // substring check is brittle: any future node mentioning a payload
    // column in stats or comments would fail falsely.)
    val df = graft.SparkEntry.queries("q148_item_cooccurrence")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    val scans = plan.split("\n")
      .filter(l => l.contains("FileScan") && l.contains("lineitem"))
    assert(scans.nonEmpty, s"no lineitem FileScan in plan:\n$plan")
    for (s <- scans) {
      val readSchema = s.replaceAll("(?s).*ReadSchema: struct<([^>]*)>.*", "$1")
      assert(readSchema.contains("l_orderkey"), s"unexpected ReadSchema: $s")
      for (extra <- Seq("l_extendedprice", "l_quantity", "l_discount",
          "l_shipdate", "l_returnflag"))
        assert(!readSchema.contains(extra), s"scan reads pruned column $extra: $s")
    }
  }

  test("AQE splits the hot partition of a skewed sort-merge join") {
    // The runtime answer to key skew (vs the static q39 salted join):
    // with thresholds scaled to the fixture, AQE's OptimizeSkewedJoin
    // must split the hot key's shuffle partition into parallel subtasks
    // — the `skew=true` marker on the final SortMergeJoin.
    val left = spark.range(0, 50000)
      .select(when(col("id") < 45000, 0L).otherwise(col("id")).as("k"),
        col("id").as("v"))
    val right = spark.range(0, 100).select(col("id").as("k"), (col("id") * 2).as("w"))
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768") {
      val j = left.join(right, "k")
      // k=0 (45000 left rows) matches right k=0; left keys ≥45000 match
      // nothing (right keys stop at 99) → exactly the hot-key volume.
      // collect() (not count()) so THIS dataframe's adaptive plan is the
      // one that executes and finalizes.
      assert(j.collect().length == 45000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"skew split did not fire:\n$plan")
    }
  }

  test("join strategy hints steer the physical join operator") {
    // The manual override lane when the optimizer's size estimates are
    // wrong at scale (stale stats, exploding joins): each hint must pin
    // its physical operator. Broadcast threshold disabled so only the
    // hint decides.
    val a = spark.range(0, 1000).select(col("id").as("k"), col("id").as("va"))
    val b = spark.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("vb"))
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      def planOf(j: org.apache.spark.sql.DataFrame): String = {
        assert(j.count() == 1000)
        j.queryExecution.executedPlan.toString
      }
      assert(planOf(a.join(b.hint("SHUFFLE_HASH"), "k"))
        .contains("ShuffledHashJoin"))
      assert(planOf(a.join(b.hint("MERGE"), "k"))
        .contains("SortMergeJoin"))
      assert(planOf(a.join(broadcast(b), "k"))
        .contains("BroadcastHashJoin"))
      // Default under disabled broadcast: sort-merge — the baseline the
      // hints override.
      assert(planOf(a.join(b, "k")).contains("SortMergeJoin"))
    }
  }

  test("portable HLL registers: error bound and exact mergeability") {
    import org.apache.spark.sql.functions.{col, countDistinct, max, pmod}
    val dir = "/root/testdata/sf0.001"
    val keys = Tables.events(spark, dir)
      .select(col("user_id").cast("string").as("k"))
    def estimate(regs: Map[Long, Long]): Double = {
      val m = 64
      val z = (0 until m).map(b => math.pow(2.0, -regs.getOrElse(b.toLong, 0L).toDouble)).sum
      val e = 0.709 * m * m / z
      val zeros = m - regs.count(_._2 > 0)
      // Standard small-range (linear counting) correction — the harness
      // tables sit well below 2.5m distinct keys, squarely in it.
      if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
    }
    val regs = graft.queries.ScaleQueries.hllRegisters(keys)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = keys.agg(countDistinct(col("k"))).head().getLong(0)
    val est = estimate(regs)
    // Standard error for m=64 is 1.04/8 = 13%; assert a 3-sigma-ish band.
    assert(math.abs(est - exact) / exact < 0.4,
      s"HLL estimate $est vs exact $exact")
    // Mergeability — the 100 TB property: registers of the whole equal
    // the per-bucket max of any partition of the input.
    val parts = Seq(0, 1).map(p => graft.queries.ScaleQueries.hllRegisters(
      keys.where(pmod(col("k").cast("long"), org.apache.spark.sql.functions.lit(2)) === p)))
    val merged = parts.reduce(_ unionByName _)
      .groupBy("bucket").agg(max(col("max_rho")).as("max_rho"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == regs)
  }

  test("broadcastRisks flags unbounded hints and proves bounded ones") {
    import org.apache.spark.sql.functions.{broadcast, count, lit}
    val dir = "/root/testdata/sf0.001"
    val cust = Tables.customer(spark, dir)
    val nat = Tables.nation(spark, dir)
    // Positive control: broadcasting the raw customer table — O(n) in the
    // scale factor — must be flagged (the er3/q148 failure mode).
    val bad = cust.join(broadcast(cust.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"))), "c_nationkey")
    assert(graft.tools.PlanLint.broadcastRisks(bad) == Seq("customer"))
    // Bounded by construction: a constant dimension, an explicit limit,
    // and a 1-row (ungrouped) aggregate must all pass.
    assert(graft.tools.PlanLint.broadcastRisks(
      cust.join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))).isEmpty)
    assert(graft.tools.PlanLint.broadcastRisks(
      cust.join(broadcast(cust.limit(10).select("c_custkey")), "c_custkey")).isEmpty)
    assert(graft.tools.PlanLint.broadcastRisks(
      cust.crossJoin(broadcast(cust.agg(count(lit(1)).as("n"))))).isEmpty)
  }

  test("partition-count independence: results identical at width 5 vs default") {
    // The portability discipline's operational claim: every draw, split,
    // sketch, and near-dup decision derives from row CONTENT (portable
    // hashes, fixed-point terms), never from partition layout — so the
    // same query at a different shuffle width returns byte-identical
    // rows. This is what makes results stable under retries, AQE
    // re-planning, and cluster resizing at 100 TB.
    val dir = "/root/testdata/sf0.001"
    val names = Seq("q93_weighted_sample", "tx8_hash_split",
      "dd4_dedup_minhash_lsh", "q183_hll_registers", "q185_hll_retention",
      "q201_grouped_reservoir")
    def rowsOf(name: String): Seq[String] =
      Staging.scope(spark)(graft.SparkEntry.queries(name)(spark, dir)
        .collect().map(_.toString).sorted.toSeq)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val baseline = names.map(n => n -> rowsOf(n)).toMap
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "5")
      names.foreach { n =>
        assert(rowsOf(n) == baseline(n), s"$n diverged at width 5")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("q183 plan: one shuffle exchange total — the 64-row register agg") {
    // The r7 verdict's fix contract: with the redundant distinct gone,
    // the register build must be a single map-side-combining aggregation
    // — ONE exchange carrying at most 64 partial-max rows per map task,
    // nothing shuffling the raw hash keyspace.
    val df = graft.queries.ScaleQueries.hllRegisters(
      Tables.events(spark, "/root/testdata/sf0.001")
        .select(col("user_id").cast("string").as("k")))
    val exchanges = df.queryExecution.executedPlan.toString
      .linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("Broadcast"))
    assert(exchanges == 1,
      s"expected exactly 1 shuffle exchange, got $exchanges:\n" +
        df.queryExecution.executedPlan.toString)
  }

  test("q185 sketch algebra invariants hold on every day pair") {
    // Exact algebraic properties of the register formulation, true for
    // ANY data (so they survive testdata regeneration): union registers
    // dominate each side's registers pointwise, hence z_union <= z_side
    // and est_union >= max(est_day, est_next); the IE estimate is
    // clamped to [0, est_day + est_next].
    val rows = graft.SparkEntry.queries("q185_hll_retention")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, u, ret) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))
      assert(u >= math.max(a, b), s"union $u < max($a, $b) at ${r.get(0)}")
      assert(ret >= 0 && ret <= a + b, s"retained $ret outside [0, ${a + b}]")
      // IE identity under the clamp: ret = max(0, a + b - u).
      assert(ret == math.max(0L, a + b - u))
    }
  }

  test("distinctIntoIdempotentAgg flags the q183 shape, passes count-distinct") {
    import org.apache.spark.sql.functions.{col, count, max, pmod}
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), pmod(col("user_id"), lit(64)).as("bucket"))
    // Positive control: the LITERAL r7 q183 pipeline — distinct on the
    // hash, derived bucket/rho projections, max-only aggregate. The
    // projections matter: a DIRECT distinct→max is already elided by
    // Spark's own RemoveRedundantAggregates, and a cheap single-use
    // Project collapses into the aggregate and is elided too; q183
    // survived both because hv/tail are each referenced twice in
    // non-cheap expressions (CollapseProject declines), which is exactly
    // the gap this lint covers.
    def q183r7(dedup: org.apache.spark.sql.DataFrame
        => org.apache.spark.sql.DataFrame) = {
      val h = dedup(ev.select(conv(substring(md5(col("user_id")
        .cast("string").cast("binary")), 1, 15), 16, 10).cast("long").as("hv")))
      h.select(pmod(col("hv"), lit(64)).as("bucket"),
          expr("hv div 64").as("tail"))
        .select(col("bucket"),
          when(col("tail") === 0, 55L)
            .otherwise(lit(55L) - length(bin(col("tail")))).as("r"))
        .groupBy("bucket").agg(max(col("r")).as("max_rho"))
    }
    val bad = q183r7(_.distinct())
    assert(graft.tools.PlanLint.distinctIntoIdempotentAgg(bad) == Seq("bucket"))
    // dropDuplicates optimizes to the same pure-distinct Aggregate.
    val bad2 = q183r7(_.dropDuplicates("hv"))
    assert(graft.tools.PlanLint.distinctIntoIdempotentAgg(bad2).nonEmpty)
    // Legitimate two-phase count-distinct: the distinct IS the semantics.
    val ok = ev.distinct().groupBy("bucket").agg(count(lit(1)).as("n"))
    assert(graft.tools.PlanLint.distinctIntoIdempotentAgg(ok).isEmpty)
    // Two-level max (the q184 shard-merge shape): inner level is a real
    // aggregate, not a distinct — must pass.
    val ok2 = ev.groupBy("user_id", "bucket").agg(max("user_id").as("m"))
      .groupBy("bucket").agg(max("m").as("m"))
    assert(graft.tools.PlanLint.distinctIntoIdempotentAgg(ok2).isEmpty)
  }

  test("registry-wide plan lint: bounded-grid allowlist only, no cartesians") {
    // PlanLint sweeps EVERY batch query's optimized + physical plan —
    // any new unpartitioned global window (the single-task sort the
    // Ranks helpers exist to avoid) or cartesian product anywhere in
    // the registry fails here unless its input is provably bounded and
    // recorded below with its bound.
    val allowed = Map(
      "q187_hll_growth" -> "day-grain series (calendar-bounded)",
      "q107_period_over_period" -> "month-grain series (calendar-bounded)",
      "q165_seasonal_decompose" -> "day-grain series (calendar-bounded)",
      "q174_stl_anomaly" -> "day-grain series (calendar-bounded)",
      "q207_rolling_backtest" -> "day-grain series (calendar-bounded)",
      "q89_share_of_total" -> "group-dimension aggregate (25 rows)",
      "tx16_topk_other" -> "source-dimension counts (bounded)")
    // broadcast() hints whose subtree has no STATICALLY provable bound
    // (maxRows undefined, fact-table leaves) but whose cardinality is
    // bounded by construction — each reviewed and pinned with its bound.
    // A hint over a frame NOT in this map (an O(n) keyset, a vocabulary,
    // a per-entity aggregate — the q116/q120/q126/tx26/tx28 mistakes
    // this lint caught and removed) fails here.
    val broadcastAllowed = Map(
      "dd3_dedup_ngram_jaccard" -> "ground-truth slice (doc_id < 100 literal cap)",
      "dd15_containment" -> "ground-truth slice (doc_id < 100 literal cap)",
      "dd6_dedup_embedding_cosine" -> "ground-truth slice (vec_id < 300 literal cap)",
      "mm4_media_feature_knn" -> "capped probe set (literal id filter)",
      "q101_embed_znorm" -> "per-dimension moments (64 rows)",
      "q102_skyline" -> "distinct-price grid + Ranks slice heads (<= partitions)",
      "q111_target_encoding" -> "order-priority enum aggregate (5 rows)",
      "q126_abc_analysis" -> "per-brand totals (25-row brand dimension)",
      "q143_count_min_sketch" -> "fixed 4x64 sketch cell grid (256 rows)",
      "q144_bloom_filter" -> "fixed 66-word filter grid",
      "q146_kl_divergence" -> "fixed price-bin histograms",
      "q153_mann_whitney" -> "Ranks slice heads (<= partitions) + 2-group sums",
      "q154_chi_square" -> "segment x priority contingency (25 cells)",
      "q159_cohort_ltv" -> "cohort-month x age grid (calendar-bounded)",
      "q161_decision_stump" -> "fixed balance-bin histogram",
      "q162_mutual_information" -> "segment x priority contingency (25 cells)",
      "q163_roc_auc" -> "Ranks slice heads (<= partitions) + 2-class totals",
      "q164_ks_test" -> "Ranks slice heads (<= partitions)",
      "q209_weighted_systematic_sample" ->
        "Ranks per-bucket totals (<= partitions)",
      "tx14_pack_sequences" ->
        "Ranks per-bucket totals (<= partitions) + 5-row source offsets",
      "q165_seasonal_decompose" -> "day-grain series (calendar-bounded)",
      "q174_stl_anomaly" -> "day-grain series (calendar-bounded)",
      "q199_t_closeness" -> "sensitive-band grid (acctbal/1000 ~ a dozen values)",
      "q89_share_of_total" -> "group-dimension aggregate (25 rows)",
      "q96_mad_outliers" -> "per-event-type medians (5-value enum)",
      "ss1_cosine_topk" -> "planted single query vector (vec_id = 0)",
      "ss3_ann_ivf" -> "query vector + 8-label centroid table",
      "ss5_knn_join" -> "capped probe set (literal id filter)",
      "ss6_ann_multiprobe" -> "query vector + probe signatures (bounded)",
      "ss7_ann_recall" -> "query vector + bucket heads (bounded)",
      "ss8_ann_srp_oracled" -> "planted single query vector (vec_id = 0)",
      "ss9_ann_int8" -> "planted single query vector (vec_id = 0)",
      "ss11_ann_binary" -> "planted single query vector (vec_id = 0)",
      "ss12_ann_pq" -> "16-centroid-per-subspace codebooks (128 rows)",
      "ss14_ann_ivf_pq" -> "16-centroid-per-subspace codebooks (128 rows)",
      "ss13_matryoshka_truncation" -> "planted single query vector (vec_id = 0)",
      "tx20_mixture_rebalance" -> "per-source mixture weights (bounded enum)",
      "tx23_event_transitions" -> "event-type transition matrix (5x5)",
      "tx26_naive_bayes" -> "per-language priors/unk scores (bounded enum)")
    // Windows partitioned ONLY by a <=10-value enum (the q209/tx14
    // round-9/10 hazard: corpus/|enum| rows sort in ONE task at scale).
    // Allowed only when the window's input is already an aggregate whose
    // row count is bounded by construction — pinned here with the bound.
    // A window over a FACT table partitioned by an enum fails this lint;
    // the fix is the Ranks global-prefix-minus-offset recipe (q209, tx14).
    val lowCardAllowed = Map(
      "q70_stats_extended" -> "returnflag x distinct-quantity grid (~250 rows)",
      "q89_share_of_total" -> "nation x region aggregate (25 rows)",
      "a41_topk_mv" -> ("top-k view ranks the FOLDED count table — " +
        "O(distinct (group, key)) rows, never the base table"))
    val findings = graft.tools.PlanLint.lint(spark, "/root/testdata/sf0.001")
    val bad = findings.filter {
      case f if f.kind == "global-window" => !allowed.contains(f.query)
      case f if f.kind == "broadcast-unbounded" =>
        !broadcastAllowed.contains(f.query)
      case f if f.kind == "low-card-window" => !lowCardAllowed.contains(f.query)
      case _ => true
    }
    assert(bad.isEmpty,
      s"plan-lint findings outside the allowlist:\n${bad.mkString("\n")}")
  }

  test("MakeScaled rejects factors outside 1..10 before it starts a session") {
    for (bad <- Seq("0", "11")) {
      val e = intercept[IllegalArgumentException](
        graft.tools.MakeScaled.main(Array("/nonexistent/src", "/nonexistent/dst", bad)))
      assert(e.getMessage.contains(s"got $bad"), e.getMessage)
    }
  }

  test("scale tools share one text perturbation, and it rejects factors above 10") {
    val docs = Seq("see the tree").toDF("text")
    val copies = (0 until 10).map(i => docs
      .select(graft.tools.MakeScaled.perturbedText(col("text"), i, 10))
      .head.getString(0))
    assert(copies.distinct.size == 10, copies)
    val e = intercept[IllegalArgumentException](
      graft.tools.MakeScaled.perturbedText(col("text"), 1, 11))
    assert(e.getMessage.contains("got 11"), e.getMessage)
  }

  test("source lint: only graft.sources.Publish makes a file visible by atomic rename") {
    // The named exceptions are renames that are not publishes of a
    // written file: withFileLock's lock-debris moves (the lease
    // protocol), the catalog's directory and view renames and its CTAS
    // commit, and the pre-lock equality-delete tombstone that vacuum
    // sweeps under its `.eqdel-*.tmp` name.
    val allowed = Set(
      "sources/ManifestSink.scala" -> "withFileLock",
      "sources/GraftCatalog.scala" -> "renameTable",
      "sources/GraftCatalog.scala" -> "renameView",
      "sources/GraftCatalog.scala" -> "StagedCreate",
      "sources/ManifestOps.scala" -> "equalityDelete")
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    // The enclosing member: the nearest line above at the two-space
    // member indent (comments excluded) that opens a def, class or object.
    val member = """^  (?![/*])(?:\S.*)?\b(?:def|class|object)\s+(\w+)""".r.unanchored
    val walk = java.nio.file.Files.walk(root)
    val found = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
        val rel = root.relativize(p).toString
        val lines = java.nio.file.Files.readAllLines(p).asScala.toIndexedSeq
        lines.indices.filter(i => lines(i).contains("ATOMIC_MOVE")).map { i =>
          val owner = (i to 0 by -1).iterator.map(lines(_)).collectFirst {
            case member(name) => name
          }.getOrElse("")
          (rel, owner, i + 1)
        }
      } finally walk.close()
    assert(found.exists(_._1 == "sources/Publish.scala"))
    val bad = found.filterNot { case (rel, owner, _) =>
      rel == "sources/Publish.scala" || allowed((rel, owner)) }
    assert(bad.isEmpty, "ATOMIC_MOVE outside Publish: " +
      bad.map { case (rel, owner, n) => s"$rel:$n (in $owner)" }.mkString(", ") +
      " — publish the file through graft.sources.Publish")
    // Every exception still exists: a stale allowlist entry would
    // silently admit a new publish under that name.
    assert(allowed.subsetOf(found.map(f => (f._1, f._2)).toSet),
      allowed -- found.map(f => (f._1, f._2)))
  }

  test("registry: spec names are distinct; only q31, q57 and q74 lack an oracle") {
    // SparkEntry.queries is built with .toMap: a duplicate name would
    // silently shadow another spec.
    val names = SparkEntry.allSpecs.map(_.name)
    assert(names.diff(names.distinct).isEmpty, names.diff(names.distinct))
    assert(SparkEntry.allSpecs.filter(_.oracle.isEmpty).map(_.name).toSet ==
      Set("q31_approx_distinct", "q57_approx_percentile", "q74_hll_mergeable"))
  }
}
