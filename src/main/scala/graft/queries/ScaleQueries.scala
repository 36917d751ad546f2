package graft.queries

import graft.{QuerySpec, Tables}
import graft.operators.{Ranks, Relational, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 scale/ETL patterns: SCD2 incremental dimension maintenance
  * (versus the reference's full-refresh), distributed equi-depth
  * histograms (percentile boundaries + broadcast, NOT a global window),
  * URL canonicalization dedup, and policy-driven dedup keeper selection.
  */
object ScaleQueries {

  val specs: Seq[QuerySpec] = Seq(

    // --- SCD2 merge ------------------------------------------------------
    // The incremental alternative to the reference's DELETE-then-INSERT
    // full refresh (users_etl.py:206-214). The batch is synthesized from
    // the dimension itself so the oracle can replay it: keys %10==0
    // change balance (new version), %10==1 arrive unchanged (idempotent:
    // no new version), %10==2 arrive as brand-new keys.
    QuerySpec(
      "q72_scd2_merge",
      """WITH dim AS (
        |  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
        |upd AS (
        |  SELECT c_custkey, c_acctbal + 100 AS c_acctbal, c_mktsegment
        |    FROM dim WHERE c_custkey % 10 = 0
        |  UNION ALL SELECT c_custkey, c_acctbal, c_mktsegment
        |    FROM dim WHERE c_custkey % 10 = 1
        |  UNION ALL SELECT c_custkey + 1000000, 0.0, 'NEW'
        |    FROM dim WHERE c_custkey % 10 = 2),
        |j AS (
        |  SELECT d.c_custkey AS dk, d.c_acctbal AS dbal, d.c_mktsegment AS dseg,
        |         u.c_custkey AS uk, u.c_acctbal AS ubal, u.c_mktsegment AS useg
        |  FROM dim d FULL OUTER JOIN upd u ON d.c_custkey = u.c_custkey)
        |SELECT dk AS c_custkey, dbal AS c_acctbal, dseg AS c_mktsegment,
        |  1 AS version,
        |  NOT (uk IS NOT NULL AND (ubal IS DISTINCT FROM dbal
        |    OR useg IS DISTINCT FROM dseg)) AS is_current
        |FROM j WHERE dk IS NOT NULL
        |UNION ALL
        |SELECT uk, ubal, useg,
        |  CASE WHEN dk IS NOT NULL THEN 2 ELSE 1 END AS version,
        |  true AS is_current
        |FROM j WHERE uk IS NOT NULL
        |  AND (dk IS NULL OR ubal IS DISTINCT FROM dbal
        |       OR useg IS DISTINCT FROM dseg)""".stripMargin) { (s, dir) =>
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      val updates = dim.where(pmod(col("c_custkey"), lit(10)) === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 100).as("c_acctbal"),
          col("c_mktsegment"))
        .unionByName(dim.where(pmod(col("c_custkey"), lit(10)) === 1))
        .unionByName(dim.where(pmod(col("c_custkey"), lit(10)) === 2)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            lit(0.0).as("c_acctbal"), lit("NEW").as("c_mktsegment")))
      Relational.scd2Merge(dim, updates, "c_custkey",
        Seq("c_acctbal", "c_mktsegment"))
    },

    // --- distributed equi-depth histogram --------------------------------
    // Quartile buckets via exact percentile boundaries + a 1-row
    // broadcast — two streaming passes, no global window (an
    // un-partitioned ntile() funnels the table through one task; this
    // shape survives 100 TB; see Relational.argmaxWithTies for the same
    // rationale). Spark's exact percentile and DuckDB's quantile_cont
    // share linear-interpolation semantics.
    QuerySpec(
      "q73_equidepth_hist",
      """WITH b AS (
        |  SELECT quantile_cont(l_extendedprice, 0.25) AS p25,
        |         quantile_cont(l_extendedprice, 0.50) AS p50,
        |         quantile_cont(l_extendedprice, 0.75) AS p75
        |  FROM lineitem)
        |SELECT CAST(1 + (l_extendedprice > p25)::INT + (l_extendedprice > p50)::INT
        |         + (l_extendedprice > p75)::INT AS BIGINT) AS q,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(l_extendedprice) AS lo_price,
        |  max(l_extendedprice) AS hi_price
        |FROM lineitem, b GROUP BY 1""".stripMargin) { (s, dir) =>
      val price = col("l_extendedprice")
      val li = Tables.lineitem(s, dir).select(price)
      // Sort-based exact quantiles (Relational.exactQuantiles): the
      // `percentile()` aggregate's value→count map degenerates on this
      // near-continuous column (583k distinct of 600k) — its final
      // single-reducer merge re-sorts ~the whole column on one core
      // (measured 2.5 s steady-state; the distributed-sort path is
      // 1.1 s and stays parallel at any scale). Boundaries return as
      // three doubles and enter the plan as literals.
      val Seq(p25, p50, p75) =
        Relational.exactQuantiles(li, "l_extendedprice", Seq(0.25, 0.50, 0.75))
      li.select(price, lit(p25).as("p25"), lit(p50).as("p50"), lit(p75).as("p75"))
        .groupBy((lit(1) + (price > col("p25")).cast("int")
          + (price > col("p50")).cast("int")
          + (price > col("p75")).cast("int")).cast("long").as("q"))
        .agg(count(lit(1)).as("n"),
          min(price).as("lo_price"),
          max(price).as("hi_price"))
    },

    // --- URL canonicalization dedup --------------------------------------
    // Canonical form: lowercase scheme+host, default port stripped,
    // fragment dropped, query parameters sorted — the standard crawl-
    // dedup key. URLs are synthesized deterministically from doc_id
    // (corpus has no URL column), with modulo collisions so groups
    // appear at larger SFs. Pure regexp+array map-side work, one
    // aggregation shuffle.
    QuerySpec(
      "tx15_url_canonical",
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTP://Example' || CAST(doc_id % 7 AS VARCHAR) || '.COM:80/p/' ||
        |    CAST(doc_id % 50 AS VARCHAR) || '?b=' || CAST(doc_id % 3 AS VARCHAR) ||
        |    '&a=' || CAST(doc_id % 5 AS VARCHAR) || '#s' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM u),
        |canon AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(nf, '^([A-Za-z]+)://', 1)) || '://' ||
        |    regexp_replace(lower(regexp_extract(nf, '^[A-Za-z]+://([^/?#]+)', 1)), ':80$', '') ||
        |    regexp_extract(nf, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) ||
        |    CASE WHEN regexp_extract(nf, '\?([^#]*)', 1) = '' THEN ''
        |         ELSE '?' || array_to_string(list_sort(
        |           string_split(regexp_extract(nf, '\?([^#]*)', 1), '&')), '&') END
        |      AS canonical
        |  FROM parts)
        |SELECT canonical, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id
        |FROM canon GROUP BY 1""".stripMargin) { (s, dir) =>
      val url = concat(
        lit("HTTP://Example"), pmod(col("doc_id"), lit(7L)).cast("string"),
        lit(".COM:80/p/"), pmod(col("doc_id"), lit(50L)).cast("string"),
        lit("?b="), pmod(col("doc_id"), lit(3L)).cast("string"),
        lit("&a="), pmod(col("doc_id"), lit(5L)).cast("string"),
        lit("#s"), col("doc_id").cast("string"))
      val parts = Tables.fanOut(Tables.documents(s, dir)
          .select(col("doc_id"), url.as("url")))
        .select(col("doc_id"), regexp_replace(col("url"), "#.*$", "").as("nf"))
      val query = regexp_extract(col("nf"), "\\?([^#]*)", 1)
      val canonical = concat(
        lower(regexp_extract(col("nf"), "^([A-Za-z]+)://", 1)), lit("://"),
        regexp_replace(lower(regexp_extract(col("nf"), "^[A-Za-z]+://([^/?#]+)", 1)),
          ":80$", ""),
        regexp_extract(col("nf"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
        when(query === "", lit(""))
          .otherwise(concat(lit("?"), array_join(array_sort(split(query, "&")), "&"))))
      parts.select(col("doc_id"), canonical.as("canonical"))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
    },

    // --- CDC latest-snapshot compaction ----------------------------------
    // Materialize the current state from an event log: latest row per
    // key by (ts, event_id) — the log-compaction step every CDC/upsert
    // pipeline runs. ONE aggregation shuffle via max_by (no window, no
    // sort of the full log). The sort key is a fixed-width string
    // (zero-padded epoch-µs ‖ event_id) because lexicographic order on
    // it equals (ts, event_id) order and both engines build it
    // identically (DuckDB's max_by takes no struct keys).
    QuerySpec(
      "q80_latest_snapshot",
      """WITH e AS (
        |  SELECT *, lpad(CAST(epoch_us(ts) AS VARCHAR), 16, '0') ||
        |            lpad(CAST(event_id AS VARCHAR), 12, '0') AS sk
        |  FROM events)
        |SELECT user_id,
        |  CAST(max_by(event_id, sk) AS BIGINT) AS last_event_id,
        |  max_by(event_type, sk) AS last_type,
        |  round(max_by(value, sk), 2) AS last_value,
        |  max(ts) AS last_ts,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM e GROUP BY 1""".stripMargin) { (s, dir) =>
      val key = concat(
        lpad(unix_micros(col("ts").cast("timestamp")).cast("string"), 16, "0"),
        lpad(col("event_id").cast("string"), 12, "0"))
      Tables.events(s, dir).withColumn("sk", key)
        .groupBy(col("user_id")).agg(
          max_by(col("event_id"), col("sk")).as("last_event_id"),
          max_by(col("event_type"), col("sk")).as("last_type"),
          round(max_by(col("value"), col("sk")), 2).as("last_value"),
          max(col("ts")).as("last_ts"),
          count(lit(1)).as("n_events"))
    },

    // --- mergeable statistics partials -----------------------------------
    // The algebraic-aggregate pattern: per-day (n, Σx, Σx²) partials,
    // merged into overall mean/variance — how a 100 TB pipeline keeps
    // rolling statistics without re-scanning history (same design as the
    // q74 HLL merge, numeric edition). The spec computes THROUGH the
    // partial-merge path; the oracle computes directly from rows — equal
    // outputs prove the merge is lossless. Coarse fixed-point (variance
    // in kilo-units) absorbs FP merge-order noise.
    QuerySpec(
      "q88_mergeable_stats",
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(floor(avg(l_extendedprice) * 100 + 0.5) AS BIGINT) AS mean_c,
        |  CAST(floor((avg(l_extendedprice * l_extendedprice)
        |              - avg(l_extendedprice) * avg(l_extendedprice)) / 1000 + 0.5)
        |    AS BIGINT) AS var_k
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      val daily = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), to_date(col("l_shipdate")).as("d"))
        .agg(count(lit(1)).as("pn"),
          sum(col("l_extendedprice")).as("ps"),
          sum(col("l_extendedprice") * col("l_extendedprice")).as("ps2"))
      daily.groupBy(col("l_returnflag"))
        .agg(sum(col("pn")).as("n"),
          sum(col("ps")).as("s"), sum(col("ps2")).as("s2"))
        .select(col("l_returnflag"), col("n"),
          floor(col("s") / col("n") * 100 + 0.5).cast("long").as("mean_c"),
          floor((col("s2") / col("n") - (col("s") / col("n")) * (col("s") / col("n")))
            / 1000 + 0.5).cast("long").as("var_k"))
    },

    // --- share-of-total metrics ------------------------------------------
    // Percent-of-parent OLAP: each nation's share of its region's
    // revenue plus its share of the global total — windows over the
    // 25-row aggregate, never the fact table.
    QuerySpec(
      "q89_share_of_total",
      """WITH rev AS (
        |  SELECT n.n_name, r.r_name, sum(l.l_extendedprice) AS rev
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY 1, 2)
        |SELECT n_name, r_name,
        |  CAST(floor(rev / sum(rev) OVER (PARTITION BY r_name) * 10000 + 0.5)
        |    AS BIGINT) AS region_share_bp,
        |  CAST(floor(rev / sum(rev) OVER () * 10000 + 0.5)
        |    AS BIGINT) AS global_share_bp
        |FROM rev""".stripMargin) { (s, dir) =>
      val rev = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"), col("r_name"))
        .agg(sum(col("l_extendedprice")).as("rev"))
      val wr = Window.partitionBy(col("r_name"))
      val wg = Window.partitionBy()
      rev.select(col("n_name"), col("r_name"),
        floor(col("rev") / sum(col("rev")).over(wr) * 10000 + 0.5)
          .cast("long").as("region_share_bp"),
        floor(col("rev") / sum(col("rev")).over(wg) * 10000 + 0.5)
          .cast("long").as("global_share_bp"))
    },

    // --- Z-order (Morton) interleaved sort key ---------------------------
    // The multi-dimensional layout key behind data-skipping formats:
    // interleaving the bits of (custkey-bucket, orderdate-day) makes
    // rows close in EITHER dimension close in the sort order, so
    // min/max-pruned scans skip files for 2-D predicates. Pure integer
    // bit math, statically unrolled on both sides. Output: per
    // 64-wide z-range, row count + dimension spans (the locality the
    // layout buys).
    QuerySpec(
      "q84_zorder_key",
      {
        val x = "(o_custkey % 1024)"
        val y = "(CAST(date_part('day', o_orderdate) AS BIGINT) + 31 * CAST(date_part('month', o_orderdate) AS BIGINT))"
        // Fully parenthesized: bitwise operator precedence must not be
        // left to either engine's grammar.
        val terms = (0 until 10).map(i =>
          s"(((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1}))")
          .mkString(" | ")
        s"""SELECT (($terms) // 64) AS zrange,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(max($x) - min($x) AS BIGINT) AS x_span,
           |  CAST(max($y) - min($y) AS BIGINT) AS y_span
           |FROM orders GROUP BY 1""".stripMargin
      }) { (s, dir) =>
      val x = pmod(col("o_custkey"), lit(1024L))
      val y = dayofmonth(col("o_orderdate")).cast("long") +
        lit(31L) * month(col("o_orderdate")).cast("long")
      val z = (0 until 10).map { i =>
        shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
          .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
      }.reduce(_ bitwiseOR _)
      Tables.orders(s, dir)
        .select(x.as("x"), y.as("y"), z.as("z"))
        .groupBy(floor(col("z") / 64).cast("long").as("zrange"))
        .agg(count(lit(1)).as("n"),
          (max(col("x")) - min(col("x"))).as("x_span"),
          (max(col("y")) - min(col("y"))).as("y_span"))
    },

    // --- rendezvous (highest-random-weight) sharding ---------------------
    // Stable shard assignment: key k goes to the shard with the highest
    // portable hash of (shard, k) — adding/removing a shard remaps only
    // 1/N of keys (vs nearly all for mod-N), which is what keeps caches
    // and co-located state warm through topology changes. The argmax is
    // a statically unrolled greatest + CASE chain, identical in both
    // engines. Output: per-shard key counts (balance check).
    QuerySpec(
      "q85_rendezvous_shard",
      {
        def h(sh: Int) =
          s"(CAST('0x' || substr(md5('sh$sh:' || CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT))"
        val mx = (0 until 8).map(h).mkString("greatest(", ", ", ")")
        val cases = (0 until 8).map(sh => s"WHEN ${h(sh)} = $mx THEN $sh").mkString(" ")
        s"""SELECT (CASE $cases END) AS shard,
           |  CAST(count(*) AS BIGINT) AS n_keys
           |FROM customer GROUP BY 1""".stripMargin
      }) { (s, dir) =>
      def h(sh: Int) = conv(substring(md5(
        concat(lit(s"sh$sh:"), col("c_custkey").cast("string")).cast("binary")),
        1, 8), 16, 10).cast("long")
      val mx = greatest((0 until 8).map(h): _*)
      val shard = (0 until 8).foldRight(lit(null).cast("int")) { (sh, el) =>
        when(h(sh) === mx, lit(sh)).otherwise(el)
      }
      Tables.customer(s, dir)
        .groupBy(shard.as("shard"))
        .agg(count(lit(1)).as("n_keys"))
    },

    // --- top-k frequency with '(other)' rollup ---------------------------
    // The reporting-safe frequency table: top-3 categories keep their
    // identity, the tail rolls into one bucket (bounded output no matter
    // the category cardinality — the fix for high-cardinality GROUP BY
    // dashboards). Window runs over the already-aggregated category
    // counts (tiny), never the raw rows.
    QuerySpec(
      "tx16_topk_other",
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |r AS (SELECT source, n,
        |        row_number() OVER (ORDER BY n DESC, source) AS rn FROM c)
        |SELECT CASE WHEN rn <= 3 THEN source ELSE '(other)' END AS source_grp,
        |  CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_sources
        |FROM r GROUP BY 1""".stripMargin) { (s, dir) =>
      val counts = Tables.documents(s, dir)
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
      val w = Window.orderBy(col("n").desc, col("source"))
      counts.withColumn("rn", row_number().over(w))
        .select(when(col("rn") <= 3, col("source")).otherwise("(other)").as("source_grp"),
          col("n"))
        .groupBy(col("source_grp"))
        .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_sources"))
    },

    // --- order-independent table checksum --------------------------------
    // Anti-entropy validation at scale: a content checksum two engines
    // (or two snapshots, or two clusters) can compare WITHOUT sorting —
    // per-row portable hash, summed (commutative) per group. Comparing
    // per-nation checksums pinpoints which shard diverged after a
    // migration; no row shuffle beyond the aggregation.
    QuerySpec(
      "q81_table_checksum",
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST('0x' || substr(md5(
        |        CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' ||
        |        CAST(c_acctbal AS VARCHAR) || '|' || c_mktsegment), 1, 8) AS BIGINT)
        |      % 2147483647) AS BIGINT) AS checksum
        |FROM customer GROUP BY 1""".stripMargin) { (s, dir) =>
      val rowHash = pmod(
        conv(substring(md5(concat_ws("|",
          col("c_custkey").cast("string"), col("c_name"),
          col("c_acctbal").cast("string"), col("c_mktsegment")).cast("binary")),
          1, 8), 16, 10).cast("long"), lit(2147483647L))
      Tables.customer(s, dir).groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_rows"), sum(rowHash).as("checksum"))
    },

    // --- dedup keeper policy ---------------------------------------------
    // Dedup groups need a POLICY for which copy survives, not just a
    // group id: keep the longest version (ties → smallest id). Corpus =
    // originals ∪ truncated re-crawls (first 150 chars, ids offset), so
    // every fingerprint-of-head group has 2 members and the policy must
    // pick the untruncated one. Window rank per group (both engines
    // replay the identical tie-break).
    QuerySpec(
      "dd11_dedup_keep_best",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, substr(text, 1, 150) FROM documents),
        |keyed AS (
        |  SELECT doc_id, length(text) AS n_len,
        |    md5(trim(regexp_replace(lower(substr(text, 1, 100)), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |  FROM corpus),
        |ranked AS (
        |  SELECT fp, doc_id, n_len,
        |    row_number() OVER (PARTITION BY fp ORDER BY n_len DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY fp) AS n_docs
        |  FROM keyed)
        |SELECT fp, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(doc_id AS BIGINT) AS keep_id, CAST(n_len AS BIGINT) AS keep_len
        |FROM ranked WHERE rn = 1""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(docs.select(
        (col("doc_id") + 100000L).as("doc_id"),
        substring(col("text"), 1, 150).as("text")))
      val keyed = Tables.fanOut(corpus).select(col("doc_id"),
        length(col("text")).cast("long").as("n_len"),
        TextAnalysis.fingerprint(substring(col("text"), 1, 100)).as("fp"))
      val w = Window.partitionBy(col("fp"))
      val ranked = keyed
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("n_len").desc, col("doc_id"))))
        .withColumn("n_docs", count(lit(1)).over(w))
      ranked.where(col("rn") === 1)
        .select(col("fp"), col("n_docs"), col("doc_id").as("keep_id"),
          col("n_len").as("keep_len"))
    },

    // --- Z-order data layout ---------------------------------------------
    // The clustering op behind OPTIMIZE ZORDER (Delta/Iceberg/Hudi):
    // interleave the bits of two filter dimensions into a Morton code,
    // lay rows out in z-code order, and multi-dimensional min/max file
    // skipping falls out of per-file stats. The spec writes BOTH layouts
    // (z-order vs. the naive insertion order) to 1000-row "files" and
    // reports each file's (x, y) bounding box plus whether a fixed box
    // predicate (x∈[64,79], y∈[32,47]) must scan it — the z-order rows
    // show the pruning win as data, and the whole thing is exact integer
    // math both engines replay bit-for-bit. Layout ranks are minted by
    // the range-partitioned Ranks helper; the oracle's global windows
    // are the semantic spec only. At 100 TB this IS how the table gets
    // written: range-partition by z-code, one file per task slice.
    {
      val zTerms = (0 until 8).map(i =>
        s"((x >> $i) & 1) * ${1L << (2 * i)} + " +
          s"((y >> $i) & 1) * ${1L << (2 * i + 1)}").mkString(" + ")
      QuerySpec(
        "q182_zorder_layout",
        s"""WITH pts AS (
           |  SELECT o_orderkey, o_custkey % 256 AS x,
           |    CAST(floor(o_totalprice) AS BIGINT) % 256 AS y
           |  FROM orders),
           |z AS (SELECT o_orderkey, x, y, $zTerms AS zcode FROM pts),
           |r AS (
           |  SELECT 'zorder' AS layout, x, y,
           |    row_number() OVER (ORDER BY zcode, o_orderkey) AS rn FROM z
           |  UNION ALL
           |  SELECT 'linear', x, y,
           |    row_number() OVER (ORDER BY o_orderkey) AS rn FROM z),
           |f AS (SELECT layout,
           |  CAST((rn - 1) // 1000 AS BIGINT) AS file_id, x, y FROM r)
           |SELECT layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
           |  CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y,
           |  CAST(CASE WHEN min(x) <= 79 AND max(x) >= 64
           |    AND min(y) <= 47 AND max(y) >= 32
           |    THEN 1 ELSE 0 END AS BIGINT) AS scan_needed
           |FROM f GROUP BY 1, 2""".stripMargin) { (s, dir) =>
        val pts = Tables.orders(s, dir).select(col("o_orderkey"),
          (col("o_custkey") % 256).as("x"),
          (floor(col("o_totalprice")).cast("long") % 256).as("y"))
        val zc = (0 until 8).map(i =>
          shiftright(col("x"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
            shiftright(col("y"), i).bitwiseAND(lit(1L)) *
              lit(1L << (2 * i + 1))).reduce(_ + _)
        val z = pts.withColumn("zcode", zc)
        val both = Ranks.globalRowNumber(z, "rn",
            Seq(col("zcode"), col("o_orderkey")))
          .withColumn("layout", lit("zorder"))
          .unionByName(Ranks.globalRowNumber(z, "rn", Seq(col("o_orderkey")))
            .withColumn("layout", lit("linear")))
        both
          .withColumn("file_id", floor((col("rn") - 1) / 1000).cast("long"))
          .groupBy("layout", "file_id")
          .agg(count(lit(1)).as("n_rows"),
            min("x").as("min_x"), max("x").as("max_x"),
            min("y").as("min_y"), max("y").as("max_y"))
          .select(col("layout"), col("file_id"), col("n_rows"),
            col("min_x"), col("max_x"), col("min_y"), col("max_y"),
            when(col("min_x") <= 79 && col("max_x") >= 64 &&
              col("min_y") <= 47 && col("max_y") >= 32, 1L)
              .otherwise(0L).as("scan_needed"))
      }
    },

    // Engine-portable HyperLogLog REGISTERS over the raw user-id
    // stream — the mergeable approx-distinct sketch with a full oracle
    // (q74 exercises Spark's built-in HLL sketch, whose binary is
    // engine-specific and rows-only by design; here every register is
    // exact integer state both engines derive identically). 60-bit
    // md5 hash → 6-bit bucket + 54-bit tail; rho = leading zeros of the
    // tail + 1 via bin()-length (pure integer — no log2 doubles to
    // disagree on); registers = per-bucket max(rho). This 64-row state
    // IS what a 100 TB pipeline stores and merges: one map-side combine
    // per partition, a 64-row shuffle, and cross-day union = per-bucket
    // max — associativity the scalatest pins alongside the standard
    // 1.04/sqrt(64) error bound on the harmonic estimate.
    QuerySpec(
      "q183_hll_registers",
      """WITH h AS (
        |  SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
        |    AS BIGINT) AS hv
        |  FROM events),
        |parts AS (
        |  SELECT hv % 64 AS bucket, hv // 64 AS tail FROM h),
        |rho AS (
        |  SELECT bucket,
        |    CASE WHEN tail = 0 THEN CAST(55 AS BIGINT)
        |         ELSE CAST(55 - length(bin(tail)) AS BIGINT) END AS r
        |  FROM parts)
        |SELECT bucket, max(r) AS max_rho
        |FROM rho GROUP BY bucket""".stripMargin) { (s, dir) =>
      ScaleQueries.hllRegisters(
        Tables.events(s, dir).select(col("user_id").cast("string").as("k")))
    },

    // Sharded HLL register MERGE — the cross-day pattern a 100 TB
    // pipeline actually runs: each day's events fold into a 64-row
    // register shard (one map-side combine per day partition), shards
    // union, and the merged registers are the per-bucket max — no raw
    // key ever crosses a day boundary. Upgrades q74's rows-only
    // cross-day check to a fully-oracled one: every register is exact
    // integer state, and the harmonic estimate is made hash-stable by
    // exact integer scaling — z_scaled = sum over all 64 buckets of
    // 2^(55 - max_rho) (missing buckets contribute 2^55) is an exact
    // BIGINT both engines derive identically, and the only floating
    // step is one constant-times-power-of-two multiply and one IEEE
    // divide, bit-identical across engines, floored into a BIGINT.
    QuerySpec(
      "q184_hll_merge",
      """WITH h AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS hv
        |  FROM events),
        |rho AS (
        |  SELECT day, hv % 64 AS bucket,
        |    CASE WHEN hv // 64 = 0 THEN CAST(55 AS BIGINT)
        |         ELSE CAST(55 - length(bin(hv // 64)) AS BIGINT) END AS r
        |  FROM h),
        |shards AS (
        |  SELECT day, bucket, max(r) AS max_rho FROM rho GROUP BY day, bucket),
        |merged AS (
        |  SELECT bucket, max(max_rho) AS max_rho FROM shards GROUP BY bucket),
        |summary AS (
        |  SELECT (SELECT CAST(count(DISTINCT day) AS BIGINT) FROM shards)
        |      AS n_days,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(55 - max_rho AS INTEGER))
        |      + (64 - count(*)) * 36028797018963968 AS BIGINT) AS z_scaled
        |  FROM merged)
        |SELECT m.bucket, m.max_rho, s.n_days,
        |  CAST(floor(0.709e0 * 4096e0 * 36028797018963968e0
        |    / CAST(s.z_scaled AS DOUBLE)) AS BIGINT) AS est_users
        |FROM merged m CROSS JOIN summary s""".stripMargin) { (s, dir) =>
      val h = Tables.events(s, dir).select(
        to_date(col("ts")).as("day"),
        conv(substring(md5(col("user_id").cast("string").cast("binary")),
          1, 15), 16, 10).cast("long").as("hv"))
      val rho = h
        .select(col("day"), pmod(col("hv"), lit(64)).as("bucket"),
          expr("hv div 64").as("tail"))
        .select(col("day"), col("bucket"),
          when(col("tail") === 0, 55L)
            .otherwise(lit(55L) - length(bin(col("tail")))).as("r"))
      // Per-day shard (what each day's job would persist), then merge =
      // per-bucket max. Both aggregations combine map-side; the shuffle
      // carries at most 64 rows per day.
      val shards = rho.groupBy("day", "bucket").agg(max(col("r")).as("max_rho"))
      val merged = shards.groupBy("bucket").agg(max(col("max_rho")).as("max_rho"))
      val nDays = shards.agg(countDistinct(col("day")).as("n_days"))
      val zRow = merged.agg(
        (sum(expr("shiftleft(1L, cast(55 - max_rho as int))")) +
          (lit(64L) - count(lit(1))) * lit(36028797018963968L)).as("z_scaled"))
      merged.crossJoin(broadcast(nDays)).crossJoin(broadcast(zRow))
        .select(col("bucket"), col("max_rho"), col("n_days"),
          floor(lit(0.709) * lit(4096.0) * lit(3.6028797018963968e16) /
            col("z_scaled").cast("double")).cast("long").as("est_users"))
    },

    // Sketch ALGEBRA on the q184 register shards: day-over-day retained
    // users estimated by inclusion–exclusion — |A∩B| ≈ est(A) + est(B)
    // − est(A∪B), where est(A∪B) comes from per-bucket max of the two
    // days' registers. This is how a 100 TB pipeline reports retention
    // without ever storing a user set: 64 rows of state per day, union
    // by max, three estimates per day pair. Same hash-stability
    // discipline as q184 (exact integer z·2⁵⁵, IEEE-deterministic final
    // divide, floor to BIGINT); IE can go negative at sketch error
    // scale, clamped at 0 on both engines.
    QuerySpec(
      "q185_hll_retention",
      """WITH h AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS hv
        |  FROM events),
        |rho AS (
        |  SELECT day, hv % 64 AS bucket,
        |    CASE WHEN hv // 64 = 0 THEN CAST(55 AS BIGINT)
        |         ELSE CAST(55 - length(bin(hv // 64)) AS BIGINT) END AS r
        |  FROM h),
        |shards AS (
        |  SELECT day, bucket, max(r) AS max_rho FROM rho GROUP BY day, bucket),
        |days AS (SELECT DISTINCT day FROM shards),
        |valid AS (
        |  SELECT a.day AS pair FROM days a JOIN days b ON b.day = a.day + 1),
        |dayest AS (
        |  SELECT day,
        |    CAST(floor(0.709e0 * 4096e0 * 36028797018963968e0 / CAST(
        |      sum(CAST(1 AS BIGINT) << CAST(55 - max_rho AS INTEGER))
        |      + (64 - count(*)) * 36028797018963968 AS DOUBLE)) AS BIGINT)
        |      AS est
        |  FROM shards GROUP BY day),
        |uni AS (
        |  SELECT pair, bucket, max(r) AS max_rho FROM (
        |    SELECT day AS pair, bucket, max_rho AS r FROM shards
        |    UNION ALL
        |    SELECT day - 1 AS pair, bucket, max_rho FROM shards) u
        |  JOIN valid USING (pair)
        |  GROUP BY pair, bucket),
        |uest AS (
        |  SELECT pair,
        |    CAST(floor(0.709e0 * 4096e0 * 36028797018963968e0 / CAST(
        |      sum(CAST(1 AS BIGINT) << CAST(55 - max_rho AS INTEGER))
        |      + (64 - count(*)) * 36028797018963968 AS DOUBLE)) AS BIGINT)
        |      AS est_union
        |  FROM uni GROUP BY pair)
        |SELECT v.pair AS day, da.est AS est_day, db.est AS est_next,
        |  ue.est_union,
        |  greatest(0, da.est + db.est - ue.est_union) AS est_retained
        |FROM valid v
        |JOIN dayest da ON da.day = v.pair
        |JOIN dayest db ON db.day = v.pair + 1
        |JOIN uest ue ON ue.pair = v.pair""".stripMargin) { (s, dir) =>
      val h = Tables.events(s, dir).select(
        to_date(col("ts")).as("day"),
        conv(substring(md5(col("user_id").cast("string").cast("binary")),
          1, 15), 16, 10).cast("long").as("hv"))
      val rho = h
        .select(col("day"), pmod(col("hv"), lit(64)).as("bucket"),
          expr("hv div 64").as("tail"))
        .select(col("day"), col("bucket"),
          when(col("tail") === 0, 55L)
            .otherwise(lit(55L) - length(bin(col("tail")))).as("r"))
      val shards = graft.Staging.persist(
        rho.groupBy("day", "bucket").agg(max(col("r")).as("max_rho")))
      // z·2⁵⁵ exact-integer estimate over a register group (see q184).
      val zExpr = (sum(expr("shiftleft(1L, cast(55 - max_rho as int))")) +
        (lit(64L) - count(lit(1))) * lit(36028797018963968L))
      def estCol(z: org.apache.spark.sql.Column) =
        floor(lit(0.709) * lit(4096.0) * lit(3.6028797018963968e16) /
          z.cast("double")).cast("long")
      val dayEst = shards.groupBy("day").agg(zExpr.as("z"))
        .select(col("day"), estCol(col("z")).as("est"))
      val days = shards.select(col("day")).distinct()
      val valid = days.as("a")
        .join(days.as("b"), col("b.day") === date_add(col("a.day"), 1))
        .select(col("a.day").as("pair"))
      val uni = shards.select(col("day").as("pair"), col("bucket"),
          col("max_rho").as("r"))
        .unionByName(shards.select(date_sub(col("day"), 1).as("pair"),
          col("bucket"), col("max_rho").as("r")))
        .join(valid, "pair", "left_semi")
        .groupBy("pair", "bucket").agg(max(col("r")).as("max_rho"))
      val uEst = uni.groupBy("pair").agg(zExpr.as("z"))
        .select(col("pair"), estCol(col("z")).as("est_union"))
      valid
        .join(dayEst.select(col("day"), col("est").as("est_day")),
          col("pair") === col("day")).drop("day")
        .join(dayEst.select(col("day"), col("est").as("est_next")),
          col("pair") === date_sub(col("day"), 1)).drop("day")
        .join(uEst, "pair")
        .select(col("pair").as("day"), col("est_day"), col("est_next"),
          col("est_union"),
          greatest(lit(0L),
            col("est_day") + col("est_next") - col("est_union"))
            .as("est_retained"))
    },

    // Rolling 7-day active users from the SAME register shards — the
    // third member of the register-algebra family (q184 merge, q185
    // retention): for each day, union the trailing week's shards by
    // per-bucket max and estimate. The production "7-day actives"
    // metric with 64 rows of state per day and no user sets; the
    // spine×shards range join is calendar-bounded on both sides
    // (days × 64 buckets), never corpus-sized.
    QuerySpec(
      "q186_hll_rolling",
      """WITH h AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS hv
        |  FROM events),
        |rho AS (
        |  SELECT day, hv % 64 AS bucket,
        |    CASE WHEN hv // 64 = 0 THEN CAST(55 AS BIGINT)
        |         ELSE CAST(55 - length(bin(hv // 64)) AS BIGINT) END AS r
        |  FROM h),
        |shards AS (
        |  SELECT day, bucket, max(r) AS max_rho FROM rho GROUP BY day, bucket),
        |days AS (SELECT DISTINCT day FROM shards),
        |win AS (
        |  SELECT d.day, s.bucket, max(s.max_rho) AS max_rho
        |  FROM days d JOIN shards s
        |    ON s.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY d.day, s.bucket)
        |SELECT day,
        |  CAST(floor(0.709e0 * 4096e0 * 36028797018963968e0 / CAST(
        |    sum(CAST(1 AS BIGINT) << CAST(55 - max_rho AS INTEGER))
        |    + (64 - count(*)) * 36028797018963968 AS DOUBLE)) AS BIGINT)
        |    AS est_users_7d
        |FROM win GROUP BY day""".stripMargin) { (s, dir) =>
      val h = Tables.events(s, dir).select(
        to_date(col("ts")).as("day"),
        conv(substring(md5(col("user_id").cast("string").cast("binary")),
          1, 15), 16, 10).cast("long").as("hv"))
      val rho = h
        .select(col("day"), pmod(col("hv"), lit(64)).as("bucket"),
          expr("hv div 64").as("tail"))
        .select(col("day"), col("bucket"),
          when(col("tail") === 0, 55L)
            .otherwise(lit(55L) - length(bin(col("tail")))).as("r"))
      val shards = graft.Staging.persist(
        rho.groupBy("day", "bucket").agg(max(col("r")).as("max_rho")))
      val days = shards.select(col("day")).distinct()
      val win = days.as("d")
        .join(shards.as("s"),
          col("s.day").between(date_sub(col("d.day"), 6), col("d.day")))
        .groupBy(col("d.day").as("day"), col("s.bucket").as("bucket"))
        .agg(max(col("s.max_rho")).as("max_rho"))
      win.groupBy("day")
        .agg((sum(expr("shiftleft(1L, cast(55 - max_rho as int))")) +
          (lit(64L) - count(lit(1))) * lit(36028797018963968L)).as("z"))
        .select(col("day"),
          floor(lit(0.709) * lit(4096.0) * lit(3.6028797018963968e16) /
            col("z").cast("double")).cast("long").as("est_users_7d"))
    },

    // Growth accounting from the shards — cumulative distinct users per
    // day (prefix union of registers: est is monotone because registers
    // only grow) and NEW users per day as the cumulative delta. Rounds
    // out the family: DAU = per-day shards, WAU = q186's rolling union,
    // retention = q185's IE, growth = this prefix union. The lag window
    // is a day-grain calendar-bounded series (the q107/q165 allowlisted
    // shape); the prefix join is days × days × 64 — calendar², never
    // corpus-sized.
    QuerySpec(
      "q187_hll_growth",
      """WITH h AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS hv
        |  FROM events),
        |rho AS (
        |  SELECT day, hv % 64 AS bucket,
        |    CASE WHEN hv // 64 = 0 THEN CAST(55 AS BIGINT)
        |         ELSE CAST(55 - length(bin(hv // 64)) AS BIGINT) END AS r
        |  FROM h),
        |shards AS (
        |  SELECT day, bucket, max(r) AS max_rho FROM rho GROUP BY day, bucket),
        |days AS (SELECT DISTINCT day FROM shards),
        |pre AS (
        |  SELECT d.day, s.bucket, max(s.max_rho) AS max_rho
        |  FROM days d JOIN shards s ON s.day <= d.day
        |  GROUP BY d.day, s.bucket),
        |cum AS (
        |  SELECT day,
        |    CAST(floor(0.709e0 * 4096e0 * 36028797018963968e0 / CAST(
        |      sum(CAST(1 AS BIGINT) << CAST(55 - max_rho AS INTEGER))
        |      + (64 - count(*)) * 36028797018963968 AS DOUBLE)) AS BIGINT)
        |      AS est_cum
        |  FROM pre GROUP BY day)
        |SELECT day, est_cum,
        |  est_cum - lag(est_cum, 1, CAST(0 AS BIGINT)) OVER (ORDER BY day)
        |    AS est_new
        |FROM cum""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = Tables.events(s, dir).select(
        to_date(col("ts")).as("day"),
        conv(substring(md5(col("user_id").cast("string").cast("binary")),
          1, 15), 16, 10).cast("long").as("hv"))
      val rho = h
        .select(col("day"), pmod(col("hv"), lit(64)).as("bucket"),
          expr("hv div 64").as("tail"))
        .select(col("day"), col("bucket"),
          when(col("tail") === 0, 55L)
            .otherwise(lit(55L) - length(bin(col("tail")))).as("r"))
      val shards = graft.Staging.persist(
        rho.groupBy("day", "bucket").agg(max(col("r")).as("max_rho")))
      val days = shards.select(col("day")).distinct()
      val pre = days.as("d")
        .join(shards.as("s"), col("s.day") <= col("d.day"))
        .groupBy(col("d.day").as("day"), col("s.bucket").as("bucket"))
        .agg(max(col("s.max_rho")).as("max_rho"))
      val cum = pre.groupBy("day")
        .agg((sum(expr("shiftleft(1L, cast(55 - max_rho as int))")) +
          (lit(64L) - count(lit(1))) * lit(36028797018963968L)).as("z"))
        .select(col("day"),
          floor(lit(0.709) * lit(4096.0) * lit(3.6028797018963968e16) /
            col("z").cast("double")).cast("long").as("est_cum"))
      cum.select(col("day"), col("est_cum"),
        (col("est_cum") - lag(col("est_cum"), 1, 0L)
          .over(Window.orderBy(col("day")))).as("est_new"))
    }
  )

  /** Portable-HLL register table for a key column `k` (string): 64 rows
    * of (bucket, max_rho) exact integer state. Mergeable: registers of a
    * union = per-bucket max of the parts' registers. */
  def hllRegisters(keys: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // No distinct: per-bucket max(rho) is duplicate-idempotent, so hashing
    // every row straight into the 64-bucket aggregate gives bit-identical
    // registers while the plan stays a single map-side-combining
    // aggregation (the whole point of the sketch — an exact distinct here
    // would shuffle the full keyspace, costing what HLL exists to avoid).
    val h = keys.select(conv(substring(md5(col("k").cast("binary")), 1, 15),
      16, 10).cast("long").as("hv"))
    h.select(pmod(col("hv"), lit(64)).as("bucket"),
        expr("hv div 64").as("tail"))
      .select(col("bucket"),
        when(col("tail") === 0, 55L)
          .otherwise(lit(55L) - length(bin(col("tail")))).as("r"))
      .groupBy("bucket")
      .agg(max(col("r")).as("max_rho"))
  }
}
