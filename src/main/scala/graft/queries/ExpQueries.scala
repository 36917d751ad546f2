package graft.queries

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.functions._

/** Round-6 expansion surface: array set algebra, privacy auditing
  * (k-anonymity), market-basket association rules, and a planted-dirt
  * data-quality report — four query shapes a production training-data /
  * warehouse pipeline runs that the earlier surfaces didn't cover. Every
  * spec carries a complete DuckDB hash oracle.
  *
  * Reference tie-in: the reference's only validation surface is its DDL
  * constraints (`/root/reference/sql/blog_post_definitions.sql:15-81`);
  * the quality-report spec generalizes those PK/FK/NOT NULL rules into
  * the one-pass rule-counter report a pipeline would actually run before
  * loading, and k-anonymity is the privacy analog over the same
  * quasi-identifier shape (users' address/company columns).
  */
object ExpQueries {

  def specs: Seq[QuerySpec] = Seq(

    // Array set algebra: union / intersect / except over the two token
    // sets of each part (name words vs type words). Spark's array_union
    // family dedups but preserves first-occurrence order while DuckDB's
    // list primitives don't guarantee one, so both sides sort before
    // serializing; arrays are projected to strings because the harness
    // comparator sorts cell values (arrays are unhashable there). All
    // in-row HOF work — zero shuffles beyond the scan.
    QuerySpec(
      "q113_array_set_ops",
      """SELECT p_partkey,
        |  array_to_string(list_sort(list_distinct(list_cat(
        |    string_split(p_name, ' '), string_split(p_type, ' ')))), ',') AS u,
        |  coalesce(array_to_string(list_sort(list_distinct(list_filter(
        |    string_split(p_name, ' '),
        |    x -> list_contains(string_split(p_type, ' '), x)))), ','), '') AS i,
        |  coalesce(array_to_string(list_sort(list_distinct(list_filter(
        |    string_split(p_name, ' '),
        |    x -> NOT list_contains(string_split(p_type, ' '), x)))), ','), '') AS x,
        |  CAST(len(list_distinct(list_cat(
        |    string_split(p_name, ' '), string_split(p_type, ' ')))) AS BIGINT) AS n_union
        |FROM part""".stripMargin) { (s, dir) =>
      val a = split(col("p_name"), " ")
      val b = split(col("p_type"), " ")
      Tables.part(s, dir).select(
        col("p_partkey"),
        array_join(array_sort(array_union(a, b)), ",").as("u"),
        array_join(array_sort(array_intersect(a, b)), ",").as("i"),
        array_join(array_sort(array_except(a, b)), ",").as("x"),
        size(array_union(a, b)).cast("long").as("n_union"))
    },

    // k-anonymity audit (k=5) over quasi-identifiers (nation, segment,
    // balance band): every row's equivalence-class size, the violation
    // flag, and the re-identification risk in basis points (floor of
    // 10000/class size — integer, so engine-identical). One hash
    // aggregation on the QI key; at 100 TB this is a groupBy + broadcast
    // join-back of the (bounded-cardinality) class-size table, never a
    // window over the fact table.
    QuerySpec(
      "q114_k_anonymity",
      """WITH qi AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
        |  FROM customer
        |), cls AS (
        |  SELECT c_nationkey, c_mktsegment, bal_band, count(*)::BIGINT AS class_size
        |  FROM qi GROUP BY 1, 2, 3
        |)
        |SELECT c_nationkey, c_mktsegment, bal_band, class_size,
        |  CAST(CASE WHEN class_size < 5 THEN 1 ELSE 0 END AS BIGINT) AS violates_k5,
        |  CAST(floor(10000.0 / class_size) AS BIGINT) AS reident_risk_bp
        |FROM cls""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(count(lit(1)).as("class_size"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("bal_band"),
          col("class_size"),
          when(col("class_size") < 5, 1L).otherwise(0L).as("violates_k5"),
          floor(lit(10000.0) / col("class_size")).cast("long").as("reident_risk_bp"))
    },

    // k-anonymity GENERALIZATION — the enforcement step q114's audit
    // feeds: a fixed 4-level global-recoding ladder over the quasi-
    // identifiers (L0 fine bands → L1 coarse bands → L2 drop the band →
    // L3 nation→region), released at the FIRST level whose smallest
    // equivalence class reaches k = 10; if even L3 misses, its
    // undersized classes are marked suppressed (the standard recoding +
    // suppression policy). The level choice is a relational CASE over
    // three 1-row min aggregates (no driver loop — the ladder is a
    // bounded enum, so all four candidate groupings compute in one
    // pass-shaped plan and the chosen one survives a join). Every
    // signal is an exact integer; which level wins varies with SF, so
    // the oracle exercises the choice logic, not one frozen branch.
    QuerySpec(
      "q195_k_anon_generalize",
      """WITH qi AS (
        |  SELECT c.c_nationkey, n.n_regionkey, c.c_mktsegment AS seg,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS b0,
        |    CAST(floor(c_acctbal / 5000.0) AS BIGINT) AS b1
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |l0 AS (
        |  SELECT CAST(0 AS BIGINT) AS lvl, CAST(c_nationkey AS VARCHAR) AS g1,
        |    seg, b0 AS band, CAST(count(*) AS BIGINT) AS class_size
        |  FROM qi GROUP BY 2, 3, 4),
        |l1 AS (
        |  SELECT CAST(1 AS BIGINT) AS lvl, CAST(c_nationkey AS VARCHAR) AS g1,
        |    seg, b1 AS band, CAST(count(*) AS BIGINT) AS class_size
        |  FROM qi GROUP BY 2, 3, 4),
        |l2 AS (
        |  SELECT CAST(2 AS BIGINT) AS lvl, CAST(c_nationkey AS VARCHAR) AS g1,
        |    seg, CAST(-1 AS BIGINT) AS band, CAST(count(*) AS BIGINT) AS class_size
        |  FROM qi GROUP BY 2, 3),
        |l3 AS (
        |  SELECT CAST(3 AS BIGINT) AS lvl, 'R' || CAST(n_regionkey AS VARCHAR) AS g1,
        |    seg, CAST(-1 AS BIGINT) AS band, CAST(count(*) AS BIGINT) AS class_size
        |  FROM qi GROUP BY 2, 3),
        |ml0 AS MATERIALIZED (SELECT min(class_size) AS m0 FROM l0),
        |ml1 AS MATERIALIZED (SELECT min(class_size) AS m1 FROM l1),
        |ml2 AS MATERIALIZED (SELECT min(class_size) AS m2 FROM l2),
        |chosen AS (
        |  SELECT CAST(CASE WHEN m0 >= 10 THEN 0 WHEN m1 >= 10 THEN 1
        |    WHEN m2 >= 10 THEN 2 ELSE 3 END AS BIGINT) AS lvl
        |  FROM ml0 CROSS JOIN ml1 CROSS JOIN ml2),
        |alll AS (
        |  SELECT * FROM l0 UNION ALL SELECT * FROM l1
        |  UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3)
        |SELECT a.lvl, a.g1, a.seg, a.band, a.class_size,
        |  CAST(CASE WHEN a.lvl = 3 AND a.class_size < 10 THEN 1 ELSE 0 END
        |    AS BIGINT) AS suppressed
        |FROM alll a JOIN chosen c ON a.lvl = c.lvl""".stripMargin) { (s, dir) =>
      val qi = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_nationkey"), col("n_regionkey"),
          col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("b0"),
          floor(col("c_acctbal") / 5000.0).cast("long").as("b1"))
      def cls(lvl: Int, g1: org.apache.spark.sql.Column,
          band: org.apache.spark.sql.Column) = qi
        .groupBy(g1.as("g1"), col("seg"), band.as("band"))
        .agg(count(lit(1)).as("class_size"))
        .select(lit(lvl.toLong).as("lvl"), col("g1"), col("seg"),
          col("band"), col("class_size"))
      val l0 = cls(0, col("c_nationkey").cast("string"), col("b0"))
      val l1 = cls(1, col("c_nationkey").cast("string"), col("b1"))
      val l2 = cls(2, col("c_nationkey").cast("string"), lit(-1L))
      val l3 = cls(3, concat(lit("R"), col("n_regionkey").cast("string")),
        lit(-1L))
      def minOf(df: org.apache.spark.sql.DataFrame, as: String) =
        df.agg(min(col("class_size")).as(as)) // 1 row: maxRows-bounded
      val chosen = minOf(l0, "m0").crossJoin(minOf(l1, "m1"))
        .crossJoin(minOf(l2, "m2"))
        .select(when(col("m0") >= 10, 0L).when(col("m1") >= 10, 1L)
          .when(col("m2") >= 10, 2L).otherwise(3L).as("lvl"))
      l0.unionByName(l1).unionByName(l2).unionByName(l3)
        .join(broadcast(chosen), "lvl")
        .select(col("lvl"), col("g1"), col("seg"), col("band"),
          col("class_size"),
          when(col("lvl") === 3 && col("class_size") < 10, 1L).otherwise(0L)
            .as("suppressed"))
    },

    // Market-basket association rules over order baskets: part-pair
    // co-occurrence support, directed confidence, and lift — all in
    // integer basis points (cross-multiplied, no division ordering
    // hazards). The pair join is the classic quadratic-in-basket-size
    // blowup: baskets here cap at 13 items (78 pairs); at 100 TB the
    // same cap is enforced explicitly (drop or sample mega-baskets, the
    // lshCandidatePairs discipline) and the join key is the basket id,
    // so AQE skew-split handles hot baskets. Item supports are
    // dimension-sized → broadcast back onto pairs.
    QuerySpec(
      "q116_assoc_rules",
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
        |), n AS (SELECT count(DISTINCT k)::BIGINT AS n_baskets FROM b),
        |pairs AS (
        |  SELECT a.p AS ant, c.p AS cons, count(*)::BIGINT AS supp
        |  FROM b a JOIN b c ON a.k = c.k AND a.p < c.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), items AS (
        |  SELECT p, count(*)::BIGINT AS isupp FROM b GROUP BY 1
        |), directed AS (
        |  SELECT ant, cons, supp FROM pairs
        |  UNION ALL
        |  SELECT cons, ant, supp FROM pairs
        |)
        |SELECT d.ant, d.cons, d.supp,
        |  CAST(floor(10000 * d.supp / ia.isupp) AS BIGINT) AS conf_bp,
        |  CAST(floor(10000 * d.supp * n.n_baskets / (ia.isupp * ic.isupp)) AS BIGINT) AS lift_bp
        |FROM directed d
        |JOIN items ia ON ia.p = d.ant
        |JOIN items ic ON ic.p = d.cons
        |CROSS JOIN n""".stripMargin) { (s, dir) =>
      // Plan shape: the item supports and the basket count come straight
      // off the scan as single-pass distinct aggregations (no dependence
      // on the staged pair table), and only the self-join consumes the
      // distinct basket table — whose two sides are plan-identical, so
      // the exchange is computed once and reused. Staging it through a
      // cache was measurably SLOWER at bench scale (materialization
      // barrier vs. a cheap 2-column recompute); at 100 TB the same
      // trade flips and `Staging.persist(b)` is the one-line change.
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("k"), col("l_partkey").as("p"))
      val b = li.distinct()
      val n = li.agg(countDistinct(col("k")).as("n_baskets"))
      val pairs = b.as("a")
        .join(b.as("c"), col("a.k") === col("c.k") && col("a.p") < col("c.p"))
        .groupBy(col("a.p").as("ant"), col("c.p").as("cons"))
        .agg(count(lit(1)).as("supp"))
        .where(col("supp") >= 2)
      val items = li.groupBy(col("p")).agg(countDistinct(col("k")).as("isupp"))
      val directed = pairs.select(col("ant"), col("cons"), col("supp"))
        .unionAll(pairs.select(col("cons").as("ant"), col("ant").as("cons"), col("supp")))
      // Integer cross-multiplication: 10000·supp·N ≤ 1e4·60k·15k ≈ 9e12,
      // well inside BIGINT.
      // items is O(#parts) — grows with SF, so no broadcast hint (q148's
      // lesson: the hint pins an unbounded frame into every executor at
      // 100×); the part-key join co-partitions and AQE still broadcasts
      // when the side truly fits. broadcast(n) stays: 1 row by maxRows.
      directed
        .join(items.select(col("p").as("ant"), col("isupp").as("ia")), "ant")
        .join(items.select(col("p").as("cons"), col("isupp").as("ic")), "cons")
        .crossJoin(broadcast(n))
        .select(col("ant"), col("cons"), col("supp"),
          floor(lit(10000) * col("supp") / col("ia")).cast("long").as("conf_bp"),
          floor(lit(10000) * col("supp") * col("n_baskets")
            / (col("ia") * col("ic"))).cast("long").as("lift_bp"))
    },

    // One-pass data-quality rule report with planted violations — the
    // pre-load gate generalizing the reference's DDL constraints
    // (NOT NULL / CHECK-shaped / PK / FK) into counters. Dirt is planted
    // deterministically on both engines (NULL custkeys, negative totals,
    // bogus priority codes, duplicated PKs, orphan FKs), so every rule
    // provably fires. All row-local rules ride ONE conditional
    // aggregation over the dirty table (single pass, map-side partials);
    // only the PK and FK rules need their own shuffles (a groupBy on the
    // key and a broadcast anti-join) — the same pass structure a 100 TB
    // pre-load audit wants: no per-rule rescans.
    QuerySpec(
      "q120_quality_report",
      """WITH dirty AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders
        |  UNION ALL SELECT o_orderkey + 10000000, NULL, o_totalprice, o_orderpriority
        |    FROM orders WHERE o_orderkey % 500 = 0
        |  UNION ALL SELECT o_orderkey + 20000000, o_custkey, -o_totalprice, o_orderpriority
        |    FROM orders WHERE o_orderkey % 300 = 0
        |  UNION ALL SELECT o_orderkey + 30000000, o_custkey, o_totalprice, '9-BOGUS'
        |    FROM orders WHERE o_orderkey % 400 = 0
        |  UNION ALL SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |    FROM orders WHERE o_orderkey % 600 = 0
        |  UNION ALL SELECT o_orderkey + 40000000, o_custkey + 90000000, o_totalprice, o_orderpriority
        |    FROM orders WHERE o_orderkey % 700 = 0
        |)
        |SELECT 'null_custkey' AS rule, count(*) FILTER (o_custkey IS NULL)::BIGINT AS violations,
        |  count(*)::BIGINT AS checked FROM dirty
        |UNION ALL
        |SELECT 'nonpositive_total', count(*) FILTER (o_totalprice <= 0)::BIGINT, count(*)::BIGINT FROM dirty
        |UNION ALL
        |SELECT 'bad_priority', count(*) FILTER (o_orderpriority NOT IN
        |  ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'))::BIGINT, count(*)::BIGINT FROM dirty
        |UNION ALL
        |SELECT 'duplicate_pk', (count(*) - count(DISTINCT o_orderkey))::BIGINT, count(*)::BIGINT FROM dirty
        |UNION ALL
        |SELECT 'orphan_custkey',
        |  (SELECT count(*) FROM dirty d LEFT JOIN customer c ON d.o_custkey = c.c_custkey
        |    WHERE d.o_custkey IS NOT NULL AND c.c_custkey IS NULL)::BIGINT,
        |  count(*)::BIGINT FROM dirty""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      def planted(mod: Int)(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
        f(o.where(col("o_orderkey") % mod === 0))
      val dirty = o
        .unionAll(planted(500)(_.select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit(null).cast("long").as("o_custkey"), col("o_totalprice"), col("o_orderpriority"))))
        .unionAll(planted(300)(_.select((col("o_orderkey") + 20000000L).as("o_orderkey"),
          col("o_custkey"), (-col("o_totalprice")).as("o_totalprice"), col("o_orderpriority"))))
        .unionAll(planted(400)(_.select((col("o_orderkey") + 30000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"), lit("9-BOGUS").as("o_orderpriority"))))
        .unionAll(planted(600)(_.select(col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))))
        .unionAll(planted(700)(_.select((col("o_orderkey") + 40000000L).as("o_orderkey"),
          (col("o_custkey") + 90000000L).as("o_custkey"), col("o_totalprice"), col("o_orderpriority"))))
      val valid = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      // Row-local rules: one aggregation row, unpivoted via stack().
      val rowLocal = dirty.agg(
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpositive_total"),
        sum(when(!col("o_orderpriority").isin(valid: _*), 1L).otherwise(0L)).as("bad_priority"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("duplicate_pk"),
        count(lit(1)).as("checked"))
      val unpivoted = rowLocal.selectExpr(
        """stack(4,
          |  'null_custkey', null_custkey,
          |  'nonpositive_total', nonpositive_total,
          |  'bad_priority', bad_priority,
          |  'duplicate_pk', duplicate_pk) AS (rule, violations)""".stripMargin,
        "checked")
        .select(col("rule"), col("violations"), col("checked"))
      // customer is O(SF) — the FK anti-join shuffles on the key at
      // 100 TB (AQE still broadcasts while the keyset fits); a hint here
      // would pin an unbounded keyset into every executor.
      val cust = Tables.customer(s, dir).select(col("c_custkey"))
      val orphans = dirty.where(col("o_custkey").isNotNull)
        .join(cust, col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
      val total = dirty.agg(count(lit(1)).as("checked"))
      unpivoted.unionAll(
        orphans.crossJoin(total)
          .select(lit("orphan_custkey").as("rule"), col("violations"), col("checked")))
    },

    // Rolling z-score anomaly detection over each user's event stream:
    // trailing 20-row window moments, 3σ flag — with the division-free
    // integer formulation (x−μ > 3σ ⇔ n·x−Σx > 0 ∧ (n·x−Σx)² > 9·(n·Σx²−Σx²))
    // so both engines compare exact BIGINTs, no FP accumulation order in
    // sight. cents = floor(value·100) is one IEEE multiply + floor,
    // identical on both engines. One shuffle (user partition), one sort,
    // all three window sums share the frame.
    QuerySpec(
      "q117_anomaly_zscore",
      """WITH c AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), w AS (
        |  SELECT event_id, user_id, cents,
        |    count(*) OVER win AS n,
        |    sum(cents) OVER win AS s1,
        |    sum(cents * cents) OVER win AS s2
        |  FROM c
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_id, user_id, cents, n::BIGINT AS n,
        |  (n * cents - s1)::BIGINT AS dev_n,
        |  CAST(CASE WHEN n >= 10 AND n * cents - s1 > 0
        |    AND (n * cents - s1) * (n * cents - s1) > 9 * (n * s2 - s1 * s1)
        |    THEN 1 ELSE 0 END AS BIGINT) AS anomaly
        |FROM w""".stripMargin) { (s, dir) =>
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
      val c = Tables.events(s, dir).select(
        col("event_id"), col("user_id"), col("ts"),
        floor(col("value") * 100).cast("long").as("cents"))
      val dev = col("n") * col("cents") - col("s1")
      c.select(col("event_id"), col("user_id"), col("cents"),
          count(lit(1)).over(win).as("n"),
          sum(col("cents")).over(win).as("s1"),
          sum(col("cents") * col("cents")).over(win).as("s2"))
        .select(col("event_id"), col("user_id"), col("cents"), col("n"),
          dev.as("dev_n"),
          when(col("n") >= 10 && dev > 0 &&
            dev * dev > lit(9) * (col("n") * col("s2") - col("s1") * col("s1")),
            1L).otherwise(0L).as("anomaly"))
    },

    // Per-key EWMA (α=1/4) as an order-sensitive sequential fold — the
    // one aggregation shape that genuinely cannot be a commutative
    // combine. The series is collected per key (bounded: one user's
    // events fit in memory by assumption — the same contract as any
    // per-entity timeline op) and folded in event-time order with
    // s ← ⌊(3s+x)/4⌋; the init is the first element, matching DuckDB's
    // list_reduce contract. Quantized to integer cents so the fold is
    // exact; ⌊·/4.0⌋ on longs < 2⁵² is one exact IEEE divide + floor on
    // both engines.
    QuerySpec(
      "q118_ewma",
      """SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  list_reduce(
        |    list(CAST(floor(value * 100) AS BIGINT) ORDER BY ts, event_id),
        |    (s, x) -> CAST(floor((3 * s + x) / 4.0) AS BIGINT)) AS ewma_cents
        |FROM events GROUP BY user_id""".stripMargin) { (s, dir) =>
      val series = sort_array(collect_list(struct(
        col("ts"), col("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))))
      val cents = transform(series, e => e.getField("cents"))
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), cents.as("__c"))
        .select(col("user_id"), col("n_events"),
          aggregate(
            slice(col("__c"), lit(2), greatest(size(col("__c")) - 1, lit(0))),
            element_at(col("__c"), 1),
            (acc, x) => floor((acc * 3 + x) / 4.0).cast("long")).as("ewma_cents"))
    },

    // Dictionary encoding: replace high-cardinality string categories
    // with dense integer codes (sorted-distinct rank) — the columnar
    // compression / feature-id primitive. Spark builds each dictionary
    // once over the DISTINCT value set, ranked by the range-partitioned
    // Ranks.globalRowNumber (range partitioning orders strings natively),
    // so even a web-scale vocabulary never funnels through one task's
    // sort; codes broadcast-join back. The oracle's dense_rank over the
    // raw table is the semantic spec.
    QuerySpec(
      "q119_dictionary_encode",
      """SELECT p_partkey,
        |  CAST(dense_rank() OVER (ORDER BY p_type) - 1 AS BIGINT) AS type_code,
        |  CAST(dense_rank() OVER (ORDER BY p_brand) - 1 AS BIGINT) AS brand_code
        |FROM part""".stripMargin) { (s, dir) =>
      import graft.operators.Ranks
      def dict(df: org.apache.spark.sql.DataFrame, c: String, out: String) =
        Ranks.globalRowNumber(df.select(c).distinct(), "__code1",
            Seq(col(c)))
          .select(col(c), (col("__code1") - 1).cast("long").as(out))
      val p = Tables.part(s, dir)
      p.join(broadcast(dict(p, "p_type", "type_code")), "p_type")
        .join(broadcast(dict(p, "p_brand", "brand_code")), "p_brand")
        .select("p_partkey", "type_code", "brand_code")
    },

    // Binary (1-bit) quantized ANN: sign-pattern signatures in two
    // 32-bit words, Hamming-distance candidate scan (bit_count(xor) — a
    // 8-byte-per-vector scan, the cheapest rung on the quantization
    // ladder below ss9's int8), exact-cosine rerank. Deterministic end
    // to end (IEEE sign is exact), so this approximate-search path gets
    // a FULL oracle.
    QuerySpec(
      "ss11_ann_binary",
      """WITH q AS (
        |  SELECT list_transform(embedding, x -> x::DOUBLE) AS qv
        |  FROM embeddings WHERE vec_id = 1
        |), qs AS (
        |  SELECT qv,
        |    CAST(list_sum(list_transform(range(1, 33),
        |      i -> CASE WHEN qv[i] >= 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS BIGINT) AS qlo,
        |    CAST(list_sum(list_transform(range(33, 65),
        |      i -> CASE WHEN qv[i] >= 0 THEN (1::BIGINT << (i - 33)) ELSE 0 END)) AS BIGINT) AS qhi
        |  FROM q
        |), d AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        |), ds AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(range(1, 33),
        |      i -> CASE WHEN v[i] >= 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS BIGINT) AS lo,
        |    CAST(list_sum(list_transform(range(33, 65),
        |      i -> CASE WHEN v[i] >= 0 THEN (1::BIGINT << (i - 33)) ELSE 0 END)) AS BIGINT) AS hi
        |  FROM d
        |), cand AS (
        |  SELECT vec_id, v,
        |    (bit_count(xor(lo, qlo)) + bit_count(xor(hi, qhi)))::BIGINT AS hamming
        |  FROM ds, qs ORDER BY hamming, vec_id LIMIT 50)
        |SELECT vec_id, hamming,
        |  round(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS sim
        |FROM cand ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      graft.operators.Similarity.binaryTopK(emb, "vec_id", "embedding",
        emb.where(col("vec_id") === 1), "embedding", k = 10, cand = 50)
    },

    // k-core decomposition (k=3) over a core-plus-satellites graph: a
    // dense ring core (every node degree ≥ 4) plus 4-satellite chain
    // blocks anchored to it, whose ends peel in round 1 and interiors
    // cascade in round 2 — a bounded peel depth at ANY node count, so
    // the fixed 6-round synchronous replay below is always past the
    // fixpoint (the q105 bounded-iteration oracle trick). Output: the
    // surviving core with each node's within-core degree.
    QuerySpec(
      "q121_kcore",
      """WITH RECURSIVE nodes AS (
        |  SELECT row_number() OVER (ORDER BY user_id) - 1 AS r
        |  FROM (SELECT DISTINCT user_id FROM events)
        |), params AS (
        |  SELECT count(*)::BIGINT AS n,
        |    (count(*) - count(*) // 3)::BIGINT AS h FROM nodes
        |), eraw AS (
        |  SELECT r AS x, (r + 1) % h AS y FROM nodes, params WHERE r < h
        |  UNION ALL SELECT r, (r + 2) % h FROM nodes, params WHERE r < h
        |  UNION ALL SELECT r, r % h FROM nodes, params WHERE r >= h
        |  UNION ALL SELECT r, r - 1 FROM nodes, params
        |    WHERE r >= h AND (r - h) % 4 <> 0
        |), e AS (SELECT DISTINCT u, v FROM (
        |  SELECT x AS u, y AS v FROM eraw WHERE x <> y
        |  UNION ALL SELECT y, x FROM eraw WHERE x <> y)
        |), adj_t AS (
        |  SELECT list(coalesce(a.vs, []) ORDER BY nd.r) AS adj
        |  FROM nodes nd LEFT JOIN (
        |    SELECT u, list(v) AS vs FROM e GROUP BY u) a ON a.u = nd.r
        |), core AS (
        |  SELECT 0 AS it, list_transform(range(0, n), i -> true) AS alive
        |  FROM params
        |  UNION ALL
        |  SELECT it + 1, list_transform(range(1, n + 1), j ->
        |    CASE WHEN NOT alive[j] THEN false
        |         ELSE len(list_filter(adj[j], x -> alive[x + 1])) >= 3 END)
        |  FROM core, adj_t, params WHERE it < 6)
        |SELECT r AS node,
        |  len(list_filter(adj[r + 1], x -> alive[x + 1]))::BIGINT AS core_deg
        |FROM core, nodes, adj_t WHERE it = 6 AND alive[r + 1]""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val (ranked, n) = graft.operators.Graph.stagedUserNodes(s, dir)
      val h = n - n / 3
      val r = col("r")
      val edges = ranked.where(r < h)
          .select(r.as("src"), ((r + 1) % h).as("dst"))
        .union(ranked.where(r < h).select(r.as("src"), ((r + 2) % h).as("dst")))
        .union(ranked.where(r >= h).select(r.as("src"), (r % h).as("dst")))
        .union(ranked.where(r >= h && pmod(r - h, lit(4L)) =!= 0)
          .select(r.as("src"), (r - 1).as("dst")))
      graft.operators.Graph.kCore(edges, k = 3, rounds = 6)
    },

    // A/B experiment readout: per-variant conversion rates and the
    // two-proportion z-test. Assignment is the deterministic user-id
    // parity split, conversion = any high-value purchase. Counts are the
    // only aggregation (one pass over events, then a 2-row pivot);
    // the z statistic's IEEE expression tree is written identically on
    // both engines (exact long counts → the same divisions/sqrt in the
    // same order), rounded at 4 dp, and the significance flag derives
    // from the ROUNDED value so the boundary is engine-identical.
    QuerySpec(
      "q122_ab_test",
      """WITH u AS (
        |  SELECT user_id, user_id % 2 AS grp,
        |    max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1, 2
        |), g AS (
        |  SELECT count(*) FILTER (grp = 0)::BIGINT AS n_a,
        |    sum(conv) FILTER (grp = 0)::BIGINT AS conv_a,
        |    count(*) FILTER (grp = 1)::BIGINT AS n_b,
        |    sum(conv) FILTER (grp = 1)::BIGINT AS conv_b
        |  FROM u
        |)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  CAST(floor(10000 * conv_a / n_a) AS BIGINT) AS cvr_a_bp,
        |  CAST(floor(10000 * conv_b / n_b) AS BIGINT) AS cvr_b_bp,
        |  round((conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
        |    / sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 / n_a + 1.0 / n_b)), 4) AS z,
        |  CAST(CASE WHEN abs(round((conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
        |    / sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 / n_a + 1.0 / n_b)), 4)) > 1.96
        |    THEN 1 ELSE 0 END AS BIGINT) AS significant
        |FROM g""".stripMargin) { (s, dir) =>
      val u = Tables.events(s, dir)
        .groupBy(col("user_id"), (col("user_id") % 2).as("grp"))
        .agg(max(when(col("event_type") === "purchase" && col("value") > 150, 1L)
          .otherwise(0L)).as("conv"))
      val g = u.agg(
        sum(when(col("grp") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("grp") === 0, col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("grp") === 1, col("conv")).otherwise(0L)).as("conv_b"))
      val pa = col("conv_a") / col("n_a").cast("double")
      val pb = col("conv_b") / col("n_b").cast("double")
      val p = (col("conv_a") + col("conv_b")) / (col("n_a") + col("n_b")).cast("double")
      val z = round((pa - pb) /
        sqrt(p * (lit(1.0) - p) * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 4)
      g.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        floor(lit(10000) * col("conv_a") / col("n_a")).cast("long").as("cvr_a_bp"),
        floor(lit(10000) * col("conv_b") / col("n_b")).cast("long").as("cvr_b_bp"),
        z.as("z"),
        when(abs(z) > 1.96, 1L).otherwise(0L).as("significant"))
    },

    // ViT-style patch extraction on the stub-decode media plumbing
    // (mm3's contract: real codec slots in behind the same columns):
    // every document's payload splits into 64-byte tiles, one output row
    // per tile with its byte stats — the decode→patch→per-patch-featurize
    // dataflow, all integer math. The payload-length explode is the only
    // row expansion; stats fold in-row over slices, so nothing but
    // (doc_id, tile stats) ever shuffles.
    QuerySpec(
      "mm7_image_tiles",
      """WITH c AS (
        |  SELECT doc_id, length(text) AS len,
        |    list_transform(range(0, length(text)),
        |      i -> ascii(substring(text, (i + 1)::INT, 1))) AS codes,
        |    (length(text) + 63) // 64 AS n_tiles
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, codes, unnest(range(0, n_tiles)) AS tile_id FROM c
        |)
        |SELECT doc_id, tile_id,
        |  len(list_slice(codes, (tile_id * 64 + 1)::INT, ((tile_id + 1) * 64)::INT))::BIGINT AS n_bytes,
        |  CAST(list_sum(list_slice(codes, (tile_id * 64 + 1)::INT, ((tile_id + 1) * 64)::INT)) AS BIGINT) AS byte_sum,
        |  CAST(list_min(list_slice(codes, (tile_id * 64 + 1)::INT, ((tile_id + 1) * 64)::INT)) AS BIGINT) AS byte_min,
        |  CAST(list_max(list_slice(codes, (tile_id * 64 + 1)::INT, ((tile_id + 1) * 64)::INT)) AS BIGINT) AS byte_max
        |FROM t""".stripMargin) { (s, dir) =>
      val staged = Tables.fanOut(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), length(col("text")).as("len"), col("text"))
        .select(col("doc_id"),
          floor((col("len") + 63) / 64).cast("long").as("n_tiles"),
          transform(sequence(lit(0L), col("len") - 1),
            i => ascii(col("text").substr((i + 1).cast("int"), lit(1))))
            .as("codes"))
      staged
        .select(col("doc_id"), col("codes"),
          explode(sequence(lit(0L), col("n_tiles") - 1)).as("tile_id"))
        .select(col("doc_id"), col("tile_id"),
          slice(col("codes"), (col("tile_id") * 64 + 1).cast("int"), lit(64)).as("__t"))
        .select(col("doc_id"), col("tile_id"),
          size(col("__t")).cast("long").as("n_bytes"),
          aggregate(col("__t"), lit(0L), (acc, x) => acc + x).as("byte_sum"),
          array_min(col("__t")).cast("long").as("byte_min"),
          array_max(col("__t")).cast("long").as("byte_max"))
    },

    // Multinomial Naive Bayes language classifier — train on 4/5 of the
    // corpus (token-class counts with add-one smoothing), classify the
    // held-out fifth. Every log-likelihood is fixed-pointed to integer
    // micro-nats PER (token, class) BEFORE the per-document sum — the
    // tx17 recipe — so document scores are exact integer sums and the
    // argmax is engine-identical (ties break to the lexicographically
    // smaller class). The model (token×class table) is bounded by
    // vocabulary size → broadcast; scoring is one explode + one hash
    // aggregate, the shape that scales to any corpus. (The harness
    // corpus draws text independently of the lang label, so the learned
    // model correctly collapses toward the majority class — the spec
    // pins the mechanics bit-for-bit, not accuracy on synthetic text.)
    QuerySpec(
      "tx26_naive_bayes",
      """WITH train AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0
        |), test AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0
        |), train_toks AS (
        |  SELECT lang, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
        |  FROM train
        |), tc AS (
        |  SELECT lang, tok, count(*)::BIGINT AS cnt FROM train_toks GROUP BY 1, 2
        |), ct AS (
        |  SELECT lang, count(*)::BIGINT AS tot FROM train_toks GROUP BY 1
        |), v AS (
        |  SELECT count(DISTINCT tok)::BIGINT AS vocab FROM train_toks
        |), priors AS (
        |  SELECT lang, CAST(floor(ln(count(*) / CAST((SELECT count(*) FROM train) AS DOUBLE)) * 1000000) AS BIGINT) AS prior_micro
        |  FROM train GROUP BY 1
        |), model AS (
        |  SELECT tc.lang, tc.tok,
        |    CAST(floor(ln((tc.cnt + 1) / CAST(ct.tot + v.vocab AS DOUBLE)) * 1000000) AS BIGINT) AS llr_micro
        |  FROM tc JOIN ct ON tc.lang = ct.lang CROSS JOIN v
        |), unk AS (
        |  SELECT ct.lang,
        |    CAST(floor(ln(1 / CAST(ct.tot + v.vocab AS DOUBLE)) * 1000000) AS BIGINT) AS unk_micro
        |  FROM ct CROSS JOIN v
        |), test_toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
        |  FROM test
        |), tok_scores AS (
        |  SELECT t.doc_id, u.lang AS c,
        |    sum(coalesce(m.llr_micro, u.unk_micro))::BIGINT AS tok_sum
        |  FROM test_toks t CROSS JOIN unk u
        |  LEFT JOIN model m ON m.tok = t.tok AND m.lang = u.lang
        |  GROUP BY 1, 2
        |), scored AS (
        |  SELECT te.doc_id, te.lang AS true_lang, p.lang AS c,
        |    p.prior_micro + coalesce(ts.tok_sum, 0) AS score_micro
        |  FROM test te CROSS JOIN priors p
        |  LEFT JOIN tok_scores ts ON ts.doc_id = te.doc_id AND ts.c = p.lang
        |), ranked AS (
        |  SELECT doc_id, true_lang, c, score_micro,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, c) AS rk
        |  FROM scored)
        |SELECT doc_id, true_lang, c AS pred_lang, score_micro,
        |  CAST(CASE WHEN c = true_lang THEN 1 ELSE 0 END AS BIGINT) AS correct
        |FROM ranked WHERE rk = 1""".stripMargin) { (s, dir) =>
      import graft.operators.TextAnalysis
      val docs = Tables.documents(s, dir).select("doc_id", "lang", "text")
      val train = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
      val test = docs.where(pmod(col("doc_id"), lit(5)) === 0)
      // Staged once: the token stream feeds the counts, totals, and
      // vocabulary branches (and the model join consumes two of those).
      val trainToks = graft.Staging.persist(train.select(col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("tok")))
      val tc = trainToks.groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
      val ct = trainToks.groupBy("lang").agg(count(lit(1)).as("tot"))
      val v = trainToks.agg(countDistinct(col("tok")).as("vocab"))
      val nTrain = train.agg(count(lit(1)).as("n_train"))
      val priors = train.groupBy("lang").agg(count(lit(1)).as("ndocs"))
        .crossJoin(broadcast(nTrain))
        .select(col("lang"),
          floor(log(col("ndocs") / col("n_train").cast("double")) * 1000000L)
            .cast("long").as("prior_micro"))
      val model = tc.join(ct, "lang").crossJoin(broadcast(v))
        .select(col("lang"), col("tok"),
          floor(log((col("cnt") + 1) / (col("tot") + col("vocab")).cast("double"))
            * 1000000L).cast("long").as("llr_micro"))
      val unk = ct.crossJoin(broadcast(v))
        .select(col("lang"),
          floor(log(lit(1) / (col("tot") + col("vocab")).cast("double"))
            * 1000000L).cast("long").as("unk_micro"))
      val testToks = test.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      // model is (lang × vocabulary) — vocab grows with the corpus
      // (Heaps' law), so no broadcast hint: the (c, tok) equi-join
      // shuffles on the token key at scale. unk/priors stay hinted —
      // they are one row per language, a bounded enum.
      val tokScores = testToks
        .crossJoin(broadcast(unk.select(col("lang").as("c"), col("unk_micro"))))
        .join(model.select(col("lang").as("c"), col("tok"), col("llr_micro")),
          Seq("c", "tok"), "left")
        .groupBy("doc_id", "c")
        .agg(sum(coalesce(col("llr_micro"), col("unk_micro"))).as("tok_sum"))
      val scored = test.select(col("doc_id"), col("lang").as("true_lang"))
        .crossJoin(broadcast(priors.select(col("lang").as("c"), col("prior_micro"))))
        .join(tokScores, Seq("doc_id", "c"), "left")
        .select(col("doc_id"), col("true_lang"), col("c"),
          (col("prior_micro") + coalesce(col("tok_sum"), lit(0L))).as("score_micro"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score_micro").desc, col("c"))
      scored.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
        .select(col("doc_id"), col("true_lang"), col("c").as("pred_lang"),
          col("score_micro"),
          when(col("c") === col("true_lang"), 1L).otherwise(0L).as("correct"))
    },

    // Interval overlap self-join via bin bucketing — the scalable plan
    // for the θ-join Spark would otherwise turn into a per-key nested
    // loop: every interval (event start, start + value-derived duration)
    // explodes into the fixed-width bins it touches, candidates meet on
    // (user, bin) equi-keys, pairs dedup, and the EXACT overlap
    // predicate filters — same result as the naive quadratic join (the
    // oracle), but the join is hash-partitionable and the per-bin
    // quadratic is bounded by bin occupancy, exactly the
    // lshCandidatePairs discipline. All µs-integer math.
    QuerySpec(
      "q115_interval_join",
      """WITH iv AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS st,
        |    epoch_us(ts)
        |      + (1 + ((CAST(floor(value) AS BIGINT) % 30) + 30) % 30) * 60000000 AS en
        |  FROM events
        |)
        |SELECT a.event_id AS event_id1, b.event_id AS event_id2,
        |  (least(a.en, b.en) - greatest(a.st, b.st)) // 1000000 AS overlap_s
        |FROM iv a JOIN iv b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND a.st <= b.en AND b.st <= a.en""".stripMargin) { (s, dir) =>
      val binUs = 30L * 60000000L
      val iv = Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("st"),
        // pmod, not %: a negative value would give en < st and make the
        // bin `sequence(st_bin, en_bin)` throw (DuckDB's % would instead
        // emit negative-duration intervals — both engines clamp the same
        // way here; values in the harness data are non-negative, so this
        // is a robustness guard, not a behavior change).
        (unix_micros(col("ts").cast("timestamp")) +
          (lit(1) + pmod(floor(col("value")).cast("long"), lit(30L))) * 60000000L).as("en"))
      val binned = iv.select(col("event_id"), col("user_id"), col("st"), col("en"),
        explode(sequence(floor(col("st") / binUs).cast("long"),
          floor(col("en") / binUs).cast("long"))).as("bin"))
      val a = binned.select(col("user_id"), col("bin"),
        col("event_id").as("event_id1"), col("st").as("st1"), col("en").as("en1"))
      val b = binned.select(col("user_id"), col("bin"),
        col("event_id").as("event_id2"), col("st").as("st2"), col("en").as("en2"))
      a.join(b, Seq("user_id", "bin"))
        .where(col("event_id1") < col("event_id2"))
        .select("event_id1", "event_id2", "st1", "en1", "st2", "en2")
        .distinct() // an overlapping pair can meet in several bins
        .where(col("st1") <= col("en2") && col("st2") <= col("en1"))
        .select(col("event_id1"), col("event_id2"),
          floor((least(col("en1"), col("en2")) - greatest(col("st1"), col("st2")))
            / 1000000.0).cast("long").as("overlap_s"))
    },

    // Voice-activity detection on the stub-PCM plumbing: mm5's windowed
    // RMS, thresholded, then gaps-and-islands to contiguous active
    // segments — the audio-segmentation dataflow (decode → frame →
    // energy → segment). The island id (win − row_number over active
    // windows) is pure integer window math; one explode and one
    // doc-partitioned sort.
    QuerySpec(
      "mm8_audio_vad",
      """WITH s AS (
        |  SELECT doc_id, list_transform(string_split(text, ''), c -> ascii(c)) AS smp
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, smp, unnest(range(0, len(smp) // 64)) AS w FROM s),
        |r AS (
        |  SELECT doc_id, CAST(w AS BIGINT) AS win,
        |    CAST(floor(sqrt(list_sum(list_transform(
        |        list_slice(smp, w*64 + 1, w*64 + 64), x -> x*x)) / 64.0) * 100 + 0.5)
        |      AS BIGINT) AS rms_c
        |  FROM w),
        |act AS (
        |  SELECT doc_id, win, rms_c,
        |    win - row_number() OVER (PARTITION BY doc_id ORDER BY win) AS seg
        |  FROM r WHERE rms_c >= 9900)
        |SELECT doc_id, min(win) AS start_win, max(win) AS end_win,
        |  count(*)::BIGINT AS n_windows, max(rms_c) AS peak_rms_c
        |FROM act GROUP BY doc_id, seg""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val rms = graft.operators.Multimodal.attachFakeMedia(
          Tables.fanOut(Tables.documents(s, dir)))
        .select(col("doc_id"),
          graft.operators.Multimodal.pcmSamples(col("media")).as("smp"))
        .select(col("doc_id"),
          graft.operators.Multimodal.windowRms(col("smp"), 64).as("rms"))
        .select(col("doc_id"), posexplode_outer(col("rms")).as(Seq("win", "rms_c")))
        .where(col("rms_c").isNotNull)
        .select(col("doc_id"), col("win").cast("long").as("win"), col("rms_c"))
      val act = rms.where(col("rms_c") >= 9900)
        .withColumn("seg", col("win") -
          row_number().over(Window.partitionBy("doc_id").orderBy("win")))
      act.groupBy("doc_id", "seg")
        .agg(min(col("win")).as("start_win"), max(col("win")).as("end_win"),
          count(lit(1)).as("n_windows"), max(col("rms_c")).as("peak_rms_c"))
        .select("doc_id", "start_win", "end_win", "n_windows", "peak_rms_c")
    },

    // First/last-touch attribution: every purchase credits the earliest
    // and the most recent preceding touch (view/click) of the same user,
    // with a 1-hour validity window on the last touch. Touches pack into
    // a single integer (ts·4 + type code) so running min/max over the
    // user timeline carry the (time, channel) pair through ONE window —
    // no self-join against the touch log, no struct aggregates; decode
    // is integer div/mod. Click outranks view at the same µs in the
    // last-touch max, view wins the first-touch min — deterministic on
    // both engines.
    QuerySpec(
      "q123_attribution",
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events
        |), packed AS (
        |  SELECT event_id, user_id, event_type, ts_us,
        |    min(CASE WHEN event_type = 'view' THEN ts_us * 4 + 1
        |             WHEN event_type = 'click' THEN ts_us * 4 + 2 END)
        |      OVER w AS first_touch,
        |    max(CASE WHEN event_type = 'view' THEN ts_us * 4 + 1
        |             WHEN event_type = 'click' THEN ts_us * 4 + 2 END)
        |      OVER w AS last_touch
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT event_id, user_id,
        |  CASE WHEN first_touch IS NULL THEN 'none'
        |       WHEN first_touch % 4 = 1 THEN 'view' ELSE 'click' END AS first_channel,
        |  CASE WHEN last_touch IS NULL OR ts_us - last_touch // 4 > 3600000000 THEN 'none'
        |       WHEN last_touch % 4 = 1 THEN 'view' ELSE 'click' END AS last_channel,
        |  CASE WHEN last_touch IS NULL THEN -1
        |       ELSE (ts_us - last_touch // 4) // 1000000 END AS last_lag_s
        |FROM packed WHERE event_type = 'purchase'""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val touch = when(col("event_type") === "view", col("ts_us") * 4 + 1)
        .when(col("event_type") === "click", col("ts_us") * 4 + 2)
      val packed = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"),
          min(touch).over(w).as("first_touch"),
          max(touch).over(w).as("last_touch"))
      packed.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          when(col("first_touch").isNull, "none")
            .when(pmod(col("first_touch"), lit(4L)) === 1, "view")
            .otherwise("click").as("first_channel"),
          when(col("last_touch").isNull ||
              col("ts_us") - floor(col("last_touch") / 4).cast("long") > 3600000000L, "none")
            .when(pmod(col("last_touch"), lit(4L)) === 1, "view")
            .otherwise("click").as("last_channel"),
          when(col("last_touch").isNull, -1L)
            .otherwise(floor((col("ts_us") - floor(col("last_touch") / 4).cast("long"))
              / 1000000.0).cast("long")).as("last_lag_s"))
    },

    // HITS hubs/authorities, 5 alternating rounds over the directed
    // ring+chord graph — the link-analysis companion to q94's PageRank.
    // Unnormalized: scores stay exact BIGINTs (growth ≈ max-degree² per
    // round, nowhere near overflow), so the oracle's recursive CTE
    // carries both vectors and replays every round bit-for-bit; the
    // alternating update (auth from PREVIOUS hubs, hub from the NEW
    // auths) is pinned by the same nested-lambda expansion on both
    // engines.
    QuerySpec(
      "q124_hits",
      """WITH RECURSIVE nodes AS (
        |  SELECT row_number() OVER (ORDER BY user_id) - 1 AS r
        |  FROM (SELECT DISTINCT user_id FROM events)
        |), params AS (SELECT count(*)::BIGINT AS n FROM nodes),
        |eraw AS (
        |  SELECT r AS x, (r + 1) % n AS y FROM nodes, params
        |  UNION ALL SELECT r, (r * 31 + 7) % n FROM nodes, params
        |), e AS (SELECT DISTINCT x AS src, y AS dst FROM eraw WHERE x <> y),
        |out_t AS (
        |  SELECT list(coalesce(a.vs, []) ORDER BY nd.r) AS out_adj
        |  FROM nodes nd LEFT JOIN (
        |    SELECT src, list(dst) AS vs FROM e GROUP BY src) a ON a.src = nd.r
        |), in_t AS (
        |  SELECT list(coalesce(a.vs, []) ORDER BY nd.r) AS in_adj
        |  FROM nodes nd LEFT JOIN (
        |    SELECT dst, list(src) AS vs FROM e GROUP BY dst) a ON a.dst = nd.r
        |), hits AS (
        |  SELECT 0 AS it,
        |    list_transform(range(0, n), i -> 1::BIGINT) AS h,
        |    list_transform(range(0, n), i -> 1::BIGINT) AS a
        |  FROM params
        |  UNION ALL
        |  SELECT it + 1,
        |    list_transform(range(1, n + 1), i ->
        |      CAST(coalesce(list_sum(list_transform(out_adj[i], j ->
        |        coalesce(list_sum(list_transform(in_adj[j + 1], k -> h[k + 1])), 0)
        |      )), 0) AS BIGINT)),
        |    list_transform(range(1, n + 1), j ->
        |      CAST(coalesce(list_sum(list_transform(in_adj[j], k -> h[k + 1])), 0) AS BIGINT))
        |  FROM hits, out_t, in_t, params WHERE it < 5)
        |SELECT r AS node, h[r + 1] AS hub, a[r + 1] AS auth
        |FROM hits, nodes WHERE it = 5""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val (ranked, n) = graft.operators.Graph.stagedUserNodes(s, dir)
      val edges = ranked
        .select(col("r").as("src"), ((col("r") + 1) % n).as("dst"))
        .union(ranked.select(col("r").as("src"),
          ((col("r") * 31 + 7) % n).as("dst")))
      graft.operators.Graph.hits(edges, iterations = 5)
    },

    // Rolling exact median (15-row trailing window, integer cents): the
    // robust-smoothing companion to q82's moving average. Both engines
    // materialize the frame as a list, sort it, and index the lower
    // middle — identical tie and short-leading-frame semantics by
    // construction; no percentile interpolation anywhere.
    QuerySpec(
      "q125_moving_median",
      """WITH c AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_orderkey,
        |  list_sort(list(cents) OVER w)[(len(list(cents) OVER w) + 1) // 2] AS med_c,
        |  len(list(cents) OVER w)::BIGINT AS n_window
        |FROM c
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey").rowsBetween(-14, 0)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .select(col("o_orderkey"),
          sort_array(collect_list(col("cents")).over(w)).as("__l"),
          count(lit(1)).over(w).as("n_window"))
        .select(col("o_orderkey"),
          element_at(col("__l"), ((col("n_window") + 1) / 2).cast("int")).as("med_c"),
          col("n_window"))
    },

    // ABC / Pareto analysis: rank parts by revenue within each brand,
    // cumulative revenue share in exact integer cents, class A/B/C at
    // the 80%/95% cuts via cross-multiplied comparisons (no percentage
    // division anywhere). One aggregation on (brand, part), then a
    // window over the brand-sized ranking plus a brand-total broadcast
    // join — the fact table never meets a window.
    QuerySpec(
      "q126_abc_analysis",
      """WITH rev AS (
        |  SELECT p.p_brand, l.l_partkey,
        |    sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT))::BIGINT AS rev_c
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2
        |), tot AS (
        |  SELECT p_brand, sum(rev_c)::BIGINT AS tot_c FROM rev GROUP BY 1
        |), ranked AS (
        |  SELECT r.p_brand, r.l_partkey, r.rev_c,
        |    sum(r.rev_c) OVER (PARTITION BY r.p_brand
        |      ORDER BY r.rev_c DESC, r.l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_c,
        |    t.tot_c
        |  FROM rev r JOIN tot t ON r.p_brand = t.p_brand)
        |SELECT p_brand, l_partkey, rev_c, cum_c,
        |  CASE WHEN cum_c * 100 <= tot_c * 80 THEN 'A'
        |       WHEN cum_c * 100 <= tot_c * 95 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM ranked""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // part is O(SF) — no broadcast hint on it (at 100 TB it is ~1e9
      // rows); the partkey equi-join co-partitions, AQE broadcasts when
      // it fits. broadcast(tot) below is per-BRAND — a 25-row bounded
      // dimension grid — and keeps its hint.
      val rev = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("l_partkey"))
        .agg(sum(floor(col("l_extendedprice") * 100).cast("long")).as("rev_c"))
      val tot = rev.groupBy(col("p_brand")).agg(sum(col("rev_c")).as("tot_c"))
      val w = Window.partitionBy("p_brand")
        .orderBy(col("rev_c").desc, col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.join(broadcast(tot), "p_brand")
        .select(col("p_brand"), col("l_partkey"), col("rev_c"),
          sum(col("rev_c")).over(w).as("cum_c"), col("tot_c"))
        .select(col("p_brand"), col("l_partkey"), col("rev_c"), col("cum_c"),
          when(col("cum_c") * 100 <= col("tot_c") * 80, "A")
            .when(col("cum_c") * 100 <= col("tot_c") * 95, "B")
            .otherwise("C").as("abc_class"))
    },

    // Entity resolution end-to-end: er1's blocked Levenshtein match
    // pairs flow into connected components (the dd7 operator) to mint
    // one entity id per transitive match group, plus the group size —
    // the master-data "golden record" keying step. Only records in some
    // match pair appear (singletons keep their own id trivially). The
    // oracle replays the closure with a recursive CTE over the
    // identical pair predicate.
    QuerySpec(
      "er2_entity_clusters",
      """WITH RECURSIVE recs AS (
        |  SELECT c_custkey AS id, c_name AS name, c_nationkey, c_mktsegment
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name || 'x', c_nationkey, c_mktsegment
        |  FROM customer WHERE c_custkey % 10 = 0
        |), p AS (
        |  SELECT a.id AS id1, b.id AS id2
        |  FROM recs a JOIN recs b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        |    AND a.id < b.id
        |  WHERE levenshtein(a.name, b.name) <= 2
        |), e AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
        |lab AS (
        |  SELECT a AS record_id, least(a, min(b)) AS entity_id
        |  FROM reach GROUP BY a)
        |SELECT record_id, entity_id,
        |  count(*) OVER (PARTITION BY entity_id)::BIGINT AS cluster_size
        |FROM lab""".stripMargin) { (s, dir) =>
      // Blocked pairs + CC labels come from the shared, session-staged
      // resolution (EntityResolution.entityLabels) — er3 consumes the
      // identical stage, mirroring the run-once/consume-many production
      // shape.
      val cc = EntityResolution.entityLabels(s, dir)
      val sizes = cc.groupBy(col("entity_id")).agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, "entity_id")
        .select("record_id", "entity_id", "cluster_size")
    },

    // Probabilistic record linkage (Fellegi–Sunter): per blocked pair a
    // comparison vector — name edit distance ≤ 2, synthesized-zip
    // equality (the corpus has no address column, so zip is minted
    // deterministically from the ORIGINAL key, which planted copies
    // share — the tx15 synthesis pattern), balance within 100.00 — and
    // each field adds its trained log-likelihood weight: ln(m/u) on
    // agreement, ln((1−m)/(1−u)) on disagreement, for (m,u) =
    // name(.9,.1), zip(.95,.2), bal(.8,.05). Weights enter BOTH engines
    // as the same integer micros, so the score is exact; thresholds
    // classify link (all three agree) vs possible (any two). All 150
    // planted dirty copies score 'link'. Blocking bounds the pair space
    // exactly as er1/er2; the shuffle carries ids + three bits.
    QuerySpec(
      "er4_fellegi_sunter",
      """WITH recs AS (
        |  SELECT c_custkey AS id, c_name AS name,
        |    (c_custkey * 7919) % 100000 AS zip,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c,
        |    c_nationkey, c_mktsegment
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name || 'x',
        |    (c_custkey * 7919) % 100000,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) + 5000,
        |    c_nationkey, c_mktsegment
        |  FROM customer WHERE c_custkey % 10 = 0),
        |p AS (
        |  SELECT a.id AS id1, b.id AS id2,
        |    CASE WHEN levenshtein(a.name, b.name) <= 2 THEN 1 ELSE 0 END AS g_name,
        |    CASE WHEN a.zip = b.zip THEN 1 ELSE 0 END AS g_zip,
        |    CASE WHEN abs(a.bal_c - b.bal_c) <= 10000 THEN 1 ELSE 0 END AS g_bal
        |  FROM recs a JOIN recs b
        |    ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        |    AND a.id < b.id),
        |s AS (
        |  SELECT id1, id2, g_name, g_zip, g_bal,
        |    (CASE WHEN g_name = 1 THEN 2197225 ELSE -2197225 END
        |     + CASE WHEN g_zip = 1 THEN 1558145 ELSE -2772589 END
        |     + CASE WHEN g_bal = 1 THEN 2772589 ELSE -1558145 END)::BIGINT
        |      AS score_micro
        |  FROM p)
        |SELECT id1, id2, CAST(g_name AS BIGINT) AS g_name,
        |  CAST(g_zip AS BIGINT) AS g_zip, CAST(g_bal AS BIGINT) AS g_bal,
        |  score_micro,
        |  CASE WHEN score_micro >= 4000000 THEN 'link' ELSE 'possible' END
        |    AS decision
        |FROM s WHERE score_micro >= 0""".stripMargin) { (s, dir) =>
      val base = Tables.customer(s, dir)
      def recsOf(dirty: Boolean) = {
        val src = if (dirty)
          base.where(pmod(col("c_custkey"), lit(10)) === 0) else base
        src.select(
          (if (dirty) col("c_custkey") + 1000000L else col("c_custkey"))
            .as("id"),
          (if (dirty) concat(col("c_name"), lit("x")) else col("c_name"))
            .as("name"),
          (col("c_custkey") * 7919 % 100000).as("zip"),
          (floor(col("c_acctbal") * 100).cast("long")
            + (if (dirty) lit(5000L) else lit(0L))).as("bal_c"),
          col("c_nationkey"), col("c_mktsegment"))
      }
      val recs = recsOf(dirty = false).unionByName(recsOf(dirty = true))
      val l = recs.select(col("id").as("id1"), col("name").as("n1"),
        col("zip").as("z1"), col("bal_c").as("b1"),
        col("c_nationkey"), col("c_mktsegment"))
      val r = recs.select(col("id").as("id2"), col("name").as("n2"),
        col("zip").as("z2"), col("bal_c").as("b2"),
        col("c_nationkey"), col("c_mktsegment"))
      val g = l.join(r, Seq("c_nationkey", "c_mktsegment"))
        .where(col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          // Banded DP: -1 past the bound, so >= 0 means lev <= 2.
          when(levenshtein(col("n1"), col("n2"), 2) >= 0, 1L)
            .otherwise(0L).as("g_name"),
          when(col("z1") === col("z2"), 1L).otherwise(0L).as("g_zip"),
          when(abs(col("b1") - col("b2")) <= 10000, 1L)
            .otherwise(0L).as("g_bal"))
      g.withColumn("score_micro",
          when(col("g_name") === 1, 2197225L).otherwise(-2197225L)
            + when(col("g_zip") === 1, 1558145L).otherwise(-2772589L)
            + when(col("g_bal") === 1, 2772589L).otherwise(-1558145L))
        .where(col("score_micro") >= 0)
        .select(col("id1"), col("id2"), col("g_name"), col("g_zip"),
          col("g_bal"), col("score_micro"),
          when(col("score_micro") >= 4000000, "link").otherwise("possible")
            .as("decision"))
    },

    // Shuffle-key skew diagnostic: the key-distribution report a
    // planner consults before choosing salting / AQE skew handling.
    // Top-1/top-10 key share and the exact Gini coefficient of the key
    // histogram — Gini via the rank formula Σ(2i−n−1)·cᵢ / (n·T) kept
    // in cross-multiplied integers (basis points, floor). One
    // aggregation over the fact table; everything after is
    // key-cardinality-sized.
    QuerySpec(
      "q127_skew_gini",
      """WITH counts AS (
        |  SELECT o_custkey AS k, count(*)::BIGINT AS c FROM orders GROUP BY 1
        |), ranked AS (
        |  SELECT k, c, row_number() OVER (ORDER BY c, k) AS i FROM counts
        |), tot AS (
        |  SELECT count(*)::BIGINT AS n, sum(c)::BIGINT AS t FROM counts
        |)
        |SELECT n AS n_keys, t AS total_rows,
        |  CAST(floor(10000 * max(c) / t) AS BIGINT) AS top1_bp,
        |  CAST(floor(10000 * sum(CASE WHEN i > n - 10 THEN c ELSE 0 END) / t) AS BIGINT) AS top10_bp,
        |  CAST(floor(10000.0 * sum((2 * i - n - 1) * c) / (n * t)) AS BIGINT) AS gini_bp
        |FROM ranked, tot GROUP BY n, t""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("c"))
      val ranked = graft.operators.Ranks.globalRowNumber(counts, "i",
        Seq(col("c"), col("k")))
      val tot = counts.agg(count(lit(1)).as("n"), sum(col("c")).as("t"))
      ranked.crossJoin(broadcast(tot))
        .groupBy(col("n"), col("t"))
        .agg(max(col("c")).as("mx"),
          sum(when(col("i") > col("n") - 10, col("c")).otherwise(0L)).as("s10"),
          sum((lit(2) * col("i") - col("n") - 1) * col("c")).as("gnum"))
        .select(col("n").as("n_keys"), col("t").as("total_rows"),
          floor(lit(10000) * col("mx") / col("t")).cast("long").as("top1_bp"),
          floor(lit(10000) * col("s10") / col("t")).cast("long").as("top10_bp"),
          floor(lit(10000.0) * col("gnum") / (col("n") * col("t")))
            .cast("long").as("gini_bp"))
    },

    // Geo nearest-facility assignment: every customer snaps to the
    // closest of 25 nation "stores" by haversine distance — the
    // reference's address geo columns (blog_post_definitions.sql:21-22,
    // users_etl.py:110-111) exercised as a real spatial op. Coordinates
    // are planted deterministically from keys (exact binary doubles);
    // distances round to metres-ish 3 dp BEFORE the argmin so the
    // store choice and tie-break (smaller nation key) are
    // engine-identical. Plan: dimension-sized store table broadcast,
    // one pass over customers, argmin via min(struct) — no window over
    // the fact table.
    QuerySpec(
      "q128_geo_nearest",
      """WITH stores AS (
        |  SELECT n_nationkey AS store_id,
        |    (n_nationkey % 24) * 6 - 66 + 0.5 AS slat,
        |    (n_nationkey * 13) % 360 - 180 + 0.5 AS slng
        |  FROM nation
        |), cust AS (
        |  SELECT c_custkey,
        |    (c_custkey % 170) - 85 + 0.25 AS clat,
        |    (c_custkey * 7) % 360 - 180 + 0.25 AS clng
        |  FROM customer
        |), d AS (
        |  SELECT c_custkey, store_id,
        |    round(2 * 6371.0 * asin(sqrt(
        |      sin(radians((slat - clat) / 2)) * sin(radians((slat - clat) / 2))
        |      + cos(radians(clat)) * cos(radians(slat))
        |        * sin(radians((slng - clng) / 2)) * sin(radians((slng - clng) / 2))
        |    )), 3) AS dist_km
        |  FROM cust, stores
        |), ranked AS (
        |  SELECT c_custkey, store_id, dist_km,
        |    row_number() OVER (PARTITION BY c_custkey
        |      ORDER BY dist_km, store_id) AS rk
        |  FROM d)
        |SELECT c_custkey, store_id AS nearest_store, dist_km
        |FROM ranked WHERE rk = 1""".stripMargin) { (s, dir) =>
      val stores = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("store_id"),
        ((col("n_nationkey") % 24) * 6 - 66 + 0.5).as("slat"),
        ((col("n_nationkey") * 13) % 360 - 180 + 0.5).as("slng"))
      val cust = Tables.customer(s, dir).select(col("c_custkey"),
        ((col("c_custkey") % 170) - 85 + 0.25).as("clat"),
        ((col("c_custkey") * 7) % 360 - 180 + 0.25).as("clng"))
      def sin2(x: org.apache.spark.sql.Column) = sin(radians(x)) * sin(radians(x))
      val dist = round(lit(2 * 6371.0) * asin(sqrt(
        sin2((col("slat") - col("clat")) / 2)
          + cos(radians(col("clat"))) * cos(radians(col("slat")))
            * sin2((col("slng") - col("clng")) / 2))), 3)
      cust.crossJoin(broadcast(stores))
        .select(col("c_custkey"), col("store_id"), dist.as("dist_km"))
        .groupBy("c_custkey")
        .agg(min(struct(col("dist_km"), col("store_id"))).as("m"))
        .select(col("c_custkey"), col("m.store_id").as("nearest_store"),
          col("m.dist_km").as("dist_km"))
    },

    // Perceptual-hash (average-hash) image near-dup detection on the
    // stub decode: each payload resamples into 32 RELATIVE tiles
    // (t·len/32 boundaries — the resize step of a real aHash, so the
    // fingerprint is length-invariant and every bit is live), a bit
    // sets when the tile's mean byte exceeds the payload mean (integer
    // cross-multiplication), then near-dup pairs (Hamming ≤ 2) surface
    // through the dd5 chunk-pigeonhole join — 4 × 8-bit chunks, a pair
    // within distance 2 must agree on ≥1 chunk (guaranteed recall for
    // ≤ 3) — never a full cross join. A re-keyed doubled corpus plants
    // exact-copy pairs at distance 0. The whole pipeline is integer
    // arithmetic: FULL oracle.
    QuerySpec(
      "mm9_phash_neardup",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents
        |), c AS (
        |  SELECT doc_id, length(text) AS len,
        |    list_transform(range(0, length(text)),
        |      i -> ascii(substring(text, (i + 1)::INT, 1))) AS codes
        |  FROM corpus
        |), sums AS (
        |  SELECT doc_id, len,
        |    CAST(list_sum(codes) AS BIGINT) AS total,
        |    list_transform(range(0, 32), t -> {
        |      's': CAST(list_sum(list_slice(codes,
        |             (t * len // 32 + 1)::INT, ((t + 1) * len // 32)::INT)) AS BIGINT),
        |      'n': CAST((t + 1) * len // 32 - t * len // 32 AS BIGINT)}) AS tiles
        |  FROM c
        |), ph AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(1, 33), t ->
        |      CASE WHEN tiles[t].s * len > total * tiles[t].n
        |           THEN (1::BIGINT << (t - 1)) ELSE 0 END)) AS BIGINT) AS phash
        |  FROM sums
        |), chunks AS (
        |  SELECT doc_id, phash, unnest(range(0, 4)) AS ci FROM ph
        |), keyed AS (
        |  SELECT doc_id, phash, ci, (phash >> (ci * 8)::INT) & 255 AS cv FROM chunks
        |), sized AS (
        |  SELECT * FROM keyed
        |  QUALIFY count(*) OVER (PARTITION BY ci, cv) <= 2000
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
        |    a.phash AS p1, b.phash AS p2
        |  FROM sized a JOIN sized b
        |    ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
        |)
        |SELECT id1, id2, bit_count(xor(p1, p2))::BIGINT AS hamming
        |FROM cand WHERE bit_count(xor(p1, p2)) <= 2""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(
        docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val c = Tables.fanOut(corpus)
        .select(col("doc_id"), length(col("text")).cast("long").as("len"), col("text"))
        .select(col("doc_id"), col("len"),
          transform(sequence(lit(0L), col("len") - 1),
            i => ascii(col("text").substr((i + 1).cast("int"), lit(1))))
            .as("codes"))
      def bnd(t: org.apache.spark.sql.Column) =
        floor(t * col("len") / 32.0).cast("long") // ·len/32 exact: /32 is a power of two
      // Expression discipline (the lesson this spec encodes): the bit
      // fold references `codes` exactly ONCE per tile — a materialized
      // 32-struct tile array re-referenced 64 times lets projection
      // collapsing re-inline the per-char decode transform into every
      // reference, a measured >100× CPU blowup at sf0.1 (DuckDB runs
      // the same pipeline sub-second). One pass, 33 slice/total
      // references, then the 8-byte/doc result is staged for the
      // two-sided candidate join.
      def tileSum(t: org.apache.spark.sql.Column) =
        aggregate(slice(col("codes"), (bnd(t) + 1).cast("int"),
          (bnd(t + 1) - bnd(t)).cast("int")), lit(0L), (a, x) => a + x)
      val ph = graft.Staging.persist(c.select(col("doc_id"), col("len"),
          aggregate(col("codes"), lit(0L), (a, x) => a + x).as("total"), col("codes"))
        .select(col("doc_id"),
          aggregate(sequence(lit(0L), lit(31L)), lit(0L), (acc, t) =>
            acc + when(
              tileSum(t) * col("len") > col("total") * (bnd(t + 1) - bnd(t)),
              call_function("shiftleft", lit(1L), t.cast("int")))
              .otherwise(lit(0L))).as("phash")))
      val chunks = ph.select(col("doc_id"), col("phash"),
          explode(sequence(lit(0), lit(3))).as("ci"))
        .select(col("doc_id"), col("phash"), col("ci"),
          call_function("shiftright", col("phash"), col("ci") * 8)
            .bitwiseAND(lit(255L)).as("cv"))
      // Hot-bucket cap (the lshCandidatePairs discipline): a degenerate
      // corpus where many payloads share a chunk value would otherwise
      // turn one bucket quadratic; the cap bounds it, mirrored exactly
      // by the oracle's QUALIFY. No effect on the harness corpora
      // (max bucket ≈ 260 at sf0.1).
      val sized = chunks
        .withColumn("__n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("ci", "cv")))
        .where(col("__n") <= 2000).drop("__n")
      val a = sized.select(col("ci"), col("cv"),
        col("doc_id").as("id1"), col("phash").as("p1"))
      val b = sized.select(col("ci"), col("cv"),
        col("doc_id").as("id2"), col("phash").as("p2"))
      a.join(b, Seq("ci", "cv"))
        .where(col("id1") < col("id2"))
        .select("id1", "id2", "p1", "p2").distinct()
        .where(bit_count(col("p1").bitwiseXOR(col("p2"))) <= 2)
        .select(col("id1"), col("id2"),
          bit_count(col("p1").bitwiseXOR(col("p2"))).cast("long").as("hamming"))
    },

    // Holt linear-trend smoothing (double exponential, α=β=1/4) per user
    // — the TWO-state upgrade of q118's EWMA fold. The (level, trend)
    // pair packs into one BIGINT (level·2³² + trend + 2³¹) so both
    // engines fold the same integer accumulator; unpacking uses shifts
    // and masks, never a > 2⁵³ double. Updates quantize with the same
    // exact ⌊·/4.0⌋ both sides. Init: level = first observation,
    // trend = 0 (list_prepend contract).
    QuerySpec(
      "q129_holt_smoothing",
      """WITH series AS (
        |  SELECT user_id,
        |    list(CAST(floor(value * 100) AS BIGINT) ORDER BY ts, event_id) AS xs
        |  FROM events GROUP BY user_id
        |), folded AS (
        |  SELECT user_id, len(xs)::BIGINT AS n_events,
        |    list_reduce(
        |      list_prepend(xs[1] * 4294967296 + 2147483648, xs[2:]),
        |      (acc, x) -> CAST(
        |        CAST(floor((x + 3 * ((acc >> 32) + ((acc & 4294967295) - 2147483648))) / 4.0) AS BIGINT)
        |          * 4294967296
        |        + CAST(floor((
        |            CAST(floor((x + 3 * ((acc >> 32) + ((acc & 4294967295) - 2147483648))) / 4.0) AS BIGINT)
        |            - (acc >> 32)
        |            + 3 * ((acc & 4294967295) - 2147483648)) / 4.0) AS BIGINT)
        |        + 2147483648 AS BIGINT)) AS packed
        |  FROM series)
        |SELECT user_id, n_events,
        |  (packed >> 32)::BIGINT AS level_c,
        |  ((packed & 4294967295) - 2147483648)::BIGINT AS trend_c
        |FROM folded""".stripMargin) { (s, dir) =>
      val series = sort_array(collect_list(struct(
        col("ts"), col("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))))
      def lvl(acc: org.apache.spark.sql.Column) =
        call_function("shiftright", acc, lit(32))
      def trd(acc: org.apache.spark.sql.Column) =
        acc.bitwiseAND(lit(4294967295L)) - 2147483648L
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          transform(series, e => e.getField("cents")).as("__x"))
        .select(col("user_id"), col("n_events"),
          aggregate(
            slice(col("__x"), lit(2), greatest(size(col("__x")) - 1, lit(0))),
            element_at(col("__x"), 1) * 4294967296L + 2147483648L,
            (acc, x) => {
              val lNew = floor((x + lit(3) * (lvl(acc) + trd(acc))) / 4.0).cast("long")
              val bNew = floor((lNew - lvl(acc) + lit(3) * trd(acc)) / 4.0).cast("long")
              lNew * 4294967296L + bNew + 2147483648L
            }).as("__p"))
        .select(col("user_id"), col("n_events"),
          call_function("shiftright", col("__p"), lit(32)).as("level_c"),
          (col("__p").bitwiseAND(lit(4294967295L)) - 2147483648L).as("trend_c"))
    },

    // Chained stateful streaming aggregation: per-(hour, user) counts
    // re-aggregated per hour into (distinct users, events) inside ONE
    // streaming query — Spark's multiple-stateful-operators support,
    // append mode. Only windows whose end passed the final watermark
    // (max ts − 30 min) emit; the oracle replays the two-level rollup
    // with the same closure HAVING (the st9 recipe).
    QuerySpec(
      "st15_stream_two_phase",
      """WITH w AS (
        |  SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, user_id,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), m AS (SELECT max(ts) - INTERVAL '30 minutes' AS wm FROM events)
        |SELECT ws AS window_start, count(*)::BIGINT AS n_users,
        |  CAST(sum(n) AS BIGINT) AS n_events
        |FROM w, m
        |GROUP BY ws, wm
        |HAVING ws + INTERVAL '1 hour' <= wm""".stripMargin) { (s, dir) =>
      graft.streaming.Streams.runToTable(
        graft.streaming.Streams.twoPhaseWindow(
          graft.streaming.Streams.eventsStream(s, dir), "1 hour", "30 minutes"),
        "st15_mem", "append")
    },

    // SQL pipe syntax (Spark 4): the linear FROM |> WHERE |> AGGREGATE
    // form of a filtered grouped aggregation — same Catalyst plan as the
    // classic form, exercised through the new front door. (Views are
    // per-session: Verify workers run on isolated newSession clones.)
    QuerySpec(
      "q130_pipe_syntax",
      """SELECT o_orderpriority, count(*)::BIGINT AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
        |FROM orders WHERE o_totalprice > 100
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("orders_pipe_v")
      s.sql(
        """FROM orders_pipe_v
          ||> WHERE o_totalprice > 100
          ||> AGGREGATE count(*) AS n,
          |     sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS rev_c
          |     GROUP BY o_orderpriority""".stripMargin)
        .select("o_orderpriority", "n", "rev_c")
    },

    // Parameterized SQL (named parameter markers — the injection-safe
    // front door for templated queries): the same plan as literal SQL,
    // with :seg and :minbal bound at execution.
    QuerySpec(
      "q131_param_sql",
      """SELECT c_nationkey, count(*)::BIGINT AS n,
        |  CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_c
        |FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0
        |GROUP BY c_nationkey""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer_param_v")
      s.sql(
        """SELECT c_nationkey, count(*) AS n,
          |  sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS bal_c
          |FROM customer_param_v
          |WHERE c_mktsegment = :seg AND c_acctbal > :minbal
          |GROUP BY c_nationkey""".stripMargin,
        Map("seg" -> "BUILDING", "minbal" -> 1000.0))
    },

    // Declarative SQL UDF (CREATE FUNCTION ... RETURN expr, Spark 4):
    // the function body inlines into the plan (no JVM closure, full
    // codegen) — the right way to package reusable business logic,
    // vs. the reference's row-at-a-time Python transforms. The oracle
    // inlines the same expression.
    QuerySpec(
      "q132_sql_udf",
      """SELECT l_orderkey,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100)
        |    AS BIGINT)) AS BIGINT) AS charge_c
        |FROM lineitem GROUP BY l_orderkey""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_udf_v")
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION graft_charge_c(
          |  p DOUBLE, d DOUBLE, t DOUBLE) RETURNS BIGINT
          |RETURN CAST(floor(p * (1.0 - d) * (1.0 + t) * 100) AS BIGINT)""".stripMargin)
      s.sql(
        """SELECT l_orderkey,
          |  sum(graft_charge_c(l_extendedprice, l_discount, l_tax)) AS charge_c
          |FROM lineitem_udf_v GROUP BY l_orderkey""".stripMargin)
    },

    // Calendar-dimension attribution with PORTABLE day-of-week math:
    // dow = (epoch_days + 4) mod 7 derived from the raw epoch (Spark's
    // dayofweek is 1-indexed from Sunday, DuckDB's 0-indexed — the
    // formula sidesteps both conventions), rolling revenue into
    // weekend/weekday buckets per month. The calendar attributes are
    // pure arithmetic on the scan — no dimension table needed, though
    // the same columns would populate one.
    QuerySpec(
      "q133_calendar_rollup",
      """WITH d AS (
        |  SELECT CAST(floor(year(o_orderdate)) AS BIGINT) AS y,
        |    CAST(floor(month(o_orderdate)) AS BIGINT) AS m,
        |    (epoch(o_orderdate)::BIGINT // 86400 + 4) % 7 AS dow,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT y, m,
        |  CAST(sum(CASE WHEN dow IN (0, 6) THEN cents ELSE 0 END) AS BIGINT) AS weekend_c,
        |  CAST(sum(CASE WHEN dow NOT IN (0, 6) THEN cents ELSE 0 END) AS BIGINT) AS weekday_c,
        |  count(*)::BIGINT AS n_orders
        |FROM d GROUP BY y, m""".stripMargin) { (s, dir) =>
      val days = floor(unix_micros(col("o_orderdate").cast("timestamp")) / 86400000000.0)
        .cast("long")
      Tables.orders(s, dir)
        .select(year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          pmod(days + 4, lit(7L)).as("dow"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("y", "m")
        .agg(sum(when(col("dow").isin(0L, 6L), col("cents")).otherwise(0L)).as("weekend_c"),
          sum(when(!col("dow").isin(0L, 6L), col("cents")).otherwise(0L)).as("weekday_c"),
          count(lit(1)).as("n_orders"))
    },

    // FORWARD as-of join (the look-ahead twin of q29): every event
    // attaches the customer's NEXT order at-or-after the event time —
    // "time to next purchase" enrichment. Right side pre-aggregated to
    // one row per (custkey, orderdate) with min-key determinism;
    // equal-timestamp events match the same-instant order, mirroring
    // DuckDB's `ASOF ... ON e.ts <= r.o_orderdate`.
    QuerySpec(
      "q134_asof_forward",
      """SELECT e.event_id AS event_id, e.user_id AS user_id,
        |  r.next_orderkey AS next_orderkey
        |FROM events e ASOF LEFT JOIN (
        |  SELECT o_custkey, o_orderdate, min(o_orderkey) AS next_orderkey
        |  FROM orders GROUP BY 1, 2) r
        |ON e.user_id = r.o_custkey AND e.ts <= r.o_orderdate""".stripMargin) { (s, dir) =>
      val nextOrder = Tables.orders(s, dir)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(min(col("o_orderkey")).as("next_orderkey"))
      graft.operators.Relational.asofJoinForward(
          Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts")),
          "user_id", "ts",
          nextOrder, "o_custkey", "o_orderdate")
        .select(col("event_id"), col("user_id"), col("next_orderkey"))
    },

    // grouping_id() over CUBE: the bitmask that distinguishes "NULL
    // because aggregated away" from "NULL in the data" — how BI layers
    // route subtotal rows. Bit order (leftmost grouping column = MSB)
    // agrees between engines.
    QuerySpec(
      "q135_grouping_id",
      """SELECT o_orderpriority,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  count(*)::BIGINT AS n,
        |  CAST(grouping_id(o_orderpriority, year(o_orderdate)) AS BIGINT) AS gid,
        |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_pri,
        |  CAST(grouping(year(o_orderdate)) AS BIGINT) AS g_year
        |FROM orders
        |GROUP BY CUBE(o_orderpriority, year(o_orderdate))""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderpriority"), year(col("o_orderdate")).cast("long").as("y"))
        .cube(col("o_orderpriority"), col("y"))
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"),
          grouping(col("o_orderpriority")).cast("long").as("g_pri"),
          grouping(col("y")).cast("long").as("g_year"))
        .select("o_orderpriority", "y", "n", "gid", "g_pri", "g_year")
    },

    // regexp_extract_all: every digit run in the event props JSON text,
    // serialized + counted (the multi-match scalar the single-match
    // q33 family doesn't cover).
    QuerySpec(
      "q136_regexp_extract_all",
      """SELECT event_id,
        |  array_to_string(regexp_extract_all(props, '[0-9]+'), ',') AS nums,
        |  len(regexp_extract_all(props, '[0-9]+'))::BIGINT AS n_nums
        |FROM events""".stripMargin) { (s, dir) =>
      Tables.events(s, dir).select(col("event_id"),
        array_join(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)), ",")
          .as("nums"),
        size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)))
          .cast("long").as("n_nums"))
    },

    // arrays_zip + inline: pair each name token with its length and
    // ordinal — the struct-array zip/explode family (the oracle states
    // the semantics with ordinality-unnest; the Spark side exercises
    // the zip mechanism).
    QuerySpec(
      "q137_arrays_zip",
      """SELECT p_partkey,
        |  CAST(generate_subscripts(string_split(p_name, ' '), 1) AS BIGINT) AS pos,
        |  unnest(string_split(p_name, ' ')) AS w,
        |  CAST(length(unnest(string_split(p_name, ' '))) AS BIGINT) AS wlen
        |FROM part""".stripMargin) { (s, dir) =>
      val words = split(col("p_name"), " ")
      val zipped = zip_with(words, transform(words, w => length(w).cast("long")),
        (w, l) => struct(w.as("w"), l.as("wlen")))
      Tables.part(s, dir)
        .select(col("p_partkey"), posexplode(zipped).as(Seq("pos0", "z")))
        .select(col("p_partkey"), (col("pos0") + 1).cast("long").as("pos"),
          col("z.w").as("w"), col("z.wlen").as("wlen"))
    },

    // Chained streaming dedup → windowed aggregation: the doubled input
    // stream proves the dedup state actually fires (without it every
    // count would double and the oracle would catch it); the tumbling
    // counts then aggregate the deduplicated stream in the same
    // append-mode query — the classic at-least-once-ingest → exactly-
    // once-rollup pipeline. Closure-gated like st15.
    QuerySpec(
      "st16_stream_dedup_window",
      """WITH m AS (SELECT max(ts) - INTERVAL '30 minutes' AS wm FROM events)
        |SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        |  count(*)::BIGINT AS n
        |FROM events, m
        |GROUP BY 1, wm
        |HAVING time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' <= wm""".stripMargin) { (s, dir) =>
      val st = graft.streaming.Streams.eventsStream(s, dir)
      val doubled = st.unionAll(graft.streaming.Streams.eventsStream(s, dir))
      graft.streaming.Streams.runToTable(
        doubled.withWatermark("ts", "30 minutes")
          .dropDuplicates("event_id")
          .groupBy(window(col("ts"), "1 hour").as("w"))
          .agg(count(lit(1)).as("n"))
          .select(col("w.start").cast("timestamp_ntz").as("window_start"), col("n")),
        "st16_mem", "append")
    },

    // Lexicon-based sentiment scoring — the social-media analytics op
    // the reference's comment corpus invites (and the retrieved
    // "Sentiment Analysis on Twitter with Spark" pattern): a fixed
    // AFINN-style word→score lexicon rendered identically into both
    // engines (the ss8 literal-constant recipe), summed in-row per
    // document — integer scores, zero shuffles beyond the scan, and at
    // 100 TB the lexicon stays a compile-time constant (no join at
    // all). Ternary label from the exact integer sum.
    QuerySpec(
      "tx27_sentiment", {
      val lex = Seq("fast" -> 3, "big" -> 2, "value" -> 1, "merge" -> 1,
        "slow" -> -3, "small" -> -1, "filter" -> -1, "error" -> -4,
        "scan" -> 2, "batch" -> -2)
      val duckCase = lex.map { case (w, sc) => s"WHEN '$w' THEN $sc" }
        .mkString("CASE t ", " ", " ELSE 0 END")
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(coalesce(list_sum(list_transform(tk, t -> $duckCase)), 0) AS BIGINT) AS sentiment,
        |  CAST(len(list_filter(tk, t -> ($duckCase) <> 0)) AS BIGINT) AS n_hits,
        |  CASE WHEN coalesce(list_sum(list_transform(tk, t -> $duckCase)), 0) > 0 THEN 'pos'
        |       WHEN coalesce(list_sum(list_transform(tk, t -> $duckCase)), 0) < 0 THEN 'neg'
        |       ELSE 'neu' END AS label
        |FROM toks""".stripMargin }) { (s, dir) =>
      import graft.operators.TextAnalysis
      val lex = Seq("fast" -> 3L, "big" -> 2L, "value" -> 1L, "merge" -> 1L,
        "slow" -> -3L, "small" -> -1L, "filter" -> -1L, "error" -> -4L,
        "scan" -> 2L, "batch" -> -2L)
      def scoreOf(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        lex.foldLeft(when(lit(false), lit(0L))) { case (acc, (w, sc)) =>
          acc.when(t === w, lit(sc))
        }.otherwise(lit(0L))
      Tables.fanOut(Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          aggregate(col("tk"), lit(0L), (a, t) => a + scoreOf(t)).as("sentiment"),
          size(filter(col("tk"), t => scoreOf(t) =!= 0)).cast("long").as("n_hits"))
        .select(col("doc_id"), col("sentiment"), col("n_hits"),
          when(col("sentiment") > 0, "pos")
            .when(col("sentiment") < 0, "neg")
            .otherwise("neu").as("label"))
    },

    // Incremental top-k maintenance: the merge property top-k(full) ≡
    // top-k(top-k(base) ∪ top-k(delta)) that lets a materialized top-k
    // view absorb a new batch WITHOUT rescanning the base — the Spark
    // side computes the merged form over a 95/5 split of orders, the
    // oracle recomputes from scratch; hash-equality IS the algebraic
    // proof. Tie-free total order (price desc, orderkey) keeps the cut
    // deterministic.
    QuerySpec(
      "q138_incremental_topk",
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
      def topk(df: org.apache.spark.sql.DataFrame) =
        df.orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)
      val base = topk(o.where(pmod(col("o_orderkey"), lit(20)) =!= 0))
      val delta = topk(o.where(pmod(col("o_orderkey"), lit(20)) === 0))
      topk(base.unionAll(delta))
    },

    // One-sided upper CUSUM drift detection per user (the control-chart
    // changepoint op): s ← max(0, s + x − k) over the event-time series
    // in integer cents (k = reference 10000¢ allowance), alarm when the
    // final statistic clears h = 50000¢. Pure integer fold — the q118
    // sequential-fold machinery with a clamp — replayed exactly by
    // list_reduce. Also reports the series max of the statistic via a
    // packed (max·2³²+cur)-style two-field fold kept in one BIGINT
    // (values bounded well below 2³¹).
    QuerySpec(
      "q139_cusum",
      """WITH series AS (
        |  SELECT user_id,
        |    list(CAST(floor(value * 100) AS BIGINT) ORDER BY ts, event_id) AS xs
        |  FROM events GROUP BY user_id
        |), folded AS (
        |  SELECT user_id, len(xs)::BIGINT AS n_events,
        |    list_reduce(list_prepend(0::BIGINT, xs),
        |      (acc, x) -> greatest((acc & 4294967295) + x - 10000, 0)
        |        + greatest(acc >> 32,
        |            greatest((acc & 4294967295) + x - 10000, 0)) * 4294967296) AS packed
        |  FROM series)
        |SELECT user_id, n_events,
        |  (packed & 4294967295)::BIGINT AS cusum_c,
        |  (packed >> 32)::BIGINT AS peak_c,
        |  CAST(CASE WHEN (packed >> 32) > 50000 THEN 1 ELSE 0 END AS BIGINT) AS drift
        |FROM folded""".stripMargin) { (s, dir) =>
      val series = sort_array(collect_list(struct(
        col("ts"), col("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))))
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          transform(series, e => e.getField("cents")).as("__x"))
        .select(col("user_id"), col("n_events"),
          aggregate(col("__x"), lit(0L), (acc, x) => {
            val cur = greatest(acc.bitwiseAND(lit(4294967295L)) + x - 10000L, lit(0L))
            val peak = greatest(call_function("shiftright", acc, lit(32)), cur)
            cur + peak * 4294967296L
          }).as("__p"))
        .select(col("user_id"), col("n_events"),
          col("__p").bitwiseAND(lit(4294967295L)).as("cusum_c"),
          call_function("shiftright", col("__p"), lit(32)).as("peak_c"),
          when(call_function("shiftright", col("__p"), lit(32)) > 50000L, 1L)
            .otherwise(0L).as("drift"))
    },

    // Distributed logistic-regression training: 5 rounds of full-batch
    // gradient descent predicting the BUILDING segment from balance and
    // nation features — the supervised companion to q100's k-means. The
    // sigmoid is the ALGEBRAIC 0.5 + 0.5·z/(1+|z|) (rational ops only —
    // bit-identical across engines, no libm exp in sight), per-row
    // gradient terms fix-point to integer micros BEFORE the sum (exact,
    // order-free), and each round is one aggregation job whose three
    // sums update the weights on the driver (the canonical GD-on-Spark
    // shape: model state driver-side, data never leaves executors).
    // The oracle replays all 5 rounds in a recursive CTE carrying the
    // weight vector. Output: final weights in micros + training
    // accuracy counts.
    QuerySpec(
      "q140_logreg_gd",
      """WITH RECURSIVE data AS (
        |  SELECT list(c_acctbal / 10000.0 ORDER BY c_custkey) AS x1,
        |    list((c_nationkey % 5) / 5.0 ORDER BY c_custkey) AS x2,
        |    list(CASE WHEN c_mktsegment = 'BUILDING' THEN 1.0 ELSE 0.0 END
        |      ORDER BY c_custkey) AS y,
        |    count(*)::BIGINT AS n
        |  FROM customer
        |), gd AS (
        |  -- DOUBLE-typed seed: a bare [0.0,…] literal types DECIMAL(2,1)
        |  -- and silently quantizes every weight update to one decimal.
        |  SELECT 0 AS it, [0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE] AS w FROM data
        |  UNION ALL
        |  SELECT it + 1, [
        |    w[1] - 0.5 * (list_sum(list_transform(range(1, (n + 1)::INT), i ->
        |      floor(((0.5 + 0.5 * (w[1] + w[2] * x1[i] + w[3] * x2[i])
        |        / (1 + abs(w[1] + w[2] * x1[i] + w[3] * x2[i]))) - y[i])
        |        * 1.0 * 1000000))) / 1000000.0) / n,
        |    w[2] - 0.5 * (list_sum(list_transform(range(1, (n + 1)::INT), i ->
        |      floor(((0.5 + 0.5 * (w[1] + w[2] * x1[i] + w[3] * x2[i])
        |        / (1 + abs(w[1] + w[2] * x1[i] + w[3] * x2[i]))) - y[i])
        |        * x1[i] * 1000000))) / 1000000.0) / n,
        |    w[3] - 0.5 * (list_sum(list_transform(range(1, (n + 1)::INT), i ->
        |      floor(((0.5 + 0.5 * (w[1] + w[2] * x1[i] + w[3] * x2[i])
        |        / (1 + abs(w[1] + w[2] * x1[i] + w[3] * x2[i]))) - y[i])
        |        * x2[i] * 1000000))) / 1000000.0) / n]
        |  FROM gd, data WHERE it < 5
        |), fin AS (SELECT w FROM gd WHERE it = 5)
        |SELECT CAST(floor(w[1] * 1000000) AS BIGINT) AS w0_micro,
        |  CAST(floor(w[2] * 1000000) AS BIGINT) AS w1_micro,
        |  CAST(floor(w[3] * 1000000) AS BIGINT) AS w2_micro,
        |  CAST(list_sum(list_transform(range(1, (n + 1)::INT), i ->
        |    CASE WHEN (CASE WHEN 0.5 + 0.5 * (w[1] + w[2] * x1[i] + w[3] * x2[i])
        |        / (1 + abs(w[1] + w[2] * x1[i] + w[3] * x2[i])) > 0.5
        |      THEN 1.0 ELSE 0.0 END) = y[i] THEN 1 ELSE 0 END)) AS BIGINT) AS n_correct,
        |  n AS n_total
        |FROM fin, data""".stripMargin) { (s, dir) =>
      val base = Tables.customer(s, dir).select(
        (col("c_acctbal") / 10000.0).as("x1"),
        ((col("c_nationkey") % 5) / 5.0).as("x2"),
        when(col("c_mktsegment") === "BUILDING", 1.0).otherwise(0.0).as("y"))
      val n = base.count()
      var w = Array(0.0, 0.0, 0.0)
      def zCol = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2")
      def pCol = lit(0.5) + lit(0.5) * zCol / (lit(1) + abs(zCol))
      for (_ <- 1 to 5) {
        def gradTerm(xj: org.apache.spark.sql.Column) =
          floor(((pCol - col("y")) * xj) * 1000000).cast("long")
        val g = base.agg(
          sum(gradTerm(lit(1.0))).as("g0"),
          sum(gradTerm(col("x1"))).as("g1"),
          sum(gradTerm(col("x2"))).as("g2")).collect()(0)
        w = Array(
          w(0) - 0.5 * (g.getLong(0) / 1000000.0) / n,
          w(1) - 0.5 * (g.getLong(1) / 1000000.0) / n,
          w(2) - 0.5 * (g.getLong(2) / 1000000.0) / n)
      }
      val pred = when(pCol > 0.5, 1.0).otherwise(0.0)
      base.agg(
        sum(when(pred === col("y"), 1L).otherwise(0L)).as("n_correct"),
        count(lit(1)).as("n_total"))
        .select(lit(math.floor(w(0) * 1000000).toLong).as("w0_micro"),
          lit(math.floor(w(1) * 1000000).toLong).as("w1_micro"),
          lit(math.floor(w(2) * 1000000).toLong).as("w2_micro"),
          col("n_correct"), col("n_total"))
    }
  )
}
