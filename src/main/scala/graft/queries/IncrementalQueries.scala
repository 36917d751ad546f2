package graft.queries

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Round-8 incremental-maintenance operators: the patterns a 100 TB
  * warehouse uses to avoid rescanning history — CDC merge with
  * tombstones, bloom-prefiltered incremental crawl dedup, and
  * bounded-state per-group reservoir sampling.
  *
  * Reference anchor: the reference pipeline is full-refresh only (every
  * DAG truncates and reloads, `dags/users_etl.py:140-159`); these specs
  * are the incremental counterparts that replace "reload the world"
  * with "merge the day's delta", which is the only shape that survives
  * when history is 100 TB and the day's increment is 100 GB.
  *
  * Shared discipline: every derived quantity is exact integer math
  * (cents, counts, md5-derived hashes) so each spec carries a full
  * DuckDB oracle; self-checking specs additionally emit a
  * `recompute_match` flag proving the incremental result equals the
  * ground-truth recompute on both engines.
  */
object IncrementalQueries {

  /** Deterministic per-(spec, sfDir) scratch dir, DELETED up front:
    * specs whose semantics include generation / epoch numbering need
    * history to restart from zero on every run. */
  private def freshDir(tag: String, dir: String): java.nio.file.Path = {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${tag}_" + Integer.toHexString(dir.hashCode)).toPath
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
    p
  }

  /** Fixed-width CDC sort key: zero-padded epoch-µs ‖ event_id.
    * Lexicographic order on it equals (ts, event_id) order, and both
    * engines build it byte-identically (the q80 recipe —
    * `ScaleQueries.scala`). */
  private def sortKey: Column = concat(
    lpad(unix_micros(col("ts").cast("timestamp")).cast("string"), 16, "0"),
    lpad(col("event_id").cast("string"), 12, "0"))

  private val sortKeySql =
    """lpad(CAST(epoch_us(ts) AS VARCHAR), 16, '0') ||
      |      lpad(CAST(event_id AS VARCHAR), 12, '0')""".stripMargin

  /** CDC op code derived from the event enum: errors are tombstones,
    * signups are inserts, everything else updates. */
  private def opCode: Column =
    when(col("event_type") === "error", "D")
      .when(col("event_type") === "signup", "I").otherwise("U")

  /** Log compaction: latest (event_id, op, cents) per user by the CDC
    * sort key — ONE map-side-combining aggregation, no window, no sort
    * of the log. */
  private def compact(log: DataFrame): DataFrame =
    log.groupBy(col("user_id")).agg(
      max_by(col("event_id"), col("sk")).as("eid"),
      max_by(col("op"), col("sk")).as("op"),
      max_by(col("val_c"), col("sk")).as("val"))

  /** Bloom geometry shared by dd18's Spark side and oracle: 4096 bits
    * (the spec's default — ample for the harness's ≤250-doc increments
    * at 4 hashes), 63-bit words (DuckDB range-checks `1 << 63`). */
  private val BloomBits = 4096
  private def bloomPos(i: Int, key: Column, bits: Long): Column =
    conv(substring(md5(concat(lit(s"$i:"), key).cast("binary")), 1, 8), 16, 10)
      .cast("long") % bits

  /** dd18's content fingerprint: md5 of the first 20 sorted distinct
    * tokens — coarse enough that the synthetic corpus has real
    * cross-slice duplicates. Shared with `tools/ScaleProbe` (bloom
    * mode) so the probe measures the exact registered recipe. */
  private[graft] def docFingerprint: Column = md5(array_join(
    slice(array_sort(array_distinct(split(col("text"), " "))), 1, 20), " ")
    .cast("binary"))

  /** dd18's bloom build + map-side probe: aggregate `newDocs`' (`f`)
    * fingerprints into ONE (word → mask) map row, broadcast it, and
    * return the `hist` rows flagged 1/0 by the 4-hash membership test.
    * The broadcast is filter-size (bits/8 bytes) no matter how large
    * the increment grows — the property that keeps the pattern alive
    * when the increment's fingerprint set itself is too big to ship.
    *
    * SIZING DISCIPLINE (measured, `tools/ScaleProbe` bloom mode): a
    * filter must be sized to its increment — m ≳ 16 bits per inserted
    * key keeps the false-positive rate low single-digit %; holding m
    * fixed while the increment grows saturates the filter and the
    * "prefilter" passes most of history (66 % at 4·n/m ≈ 2.4). The
    * spec pins m = 4096 because the harness increment is ≤ 250 docs;
    * callers at other scales pass their own `bits`. */
  private[graft] def bloomFlagged(newDocs: DataFrame, hist: DataFrame,
      bits: Long = BloomBits): DataFrame = {
    val words = newDocs
      .select(explode(array((0 until 4).map(i => bloomPos(i, col("f"), bits)): _*))
        .as("p"))
      .select(expr("p DIV 63").as("word"),
        call_function("shiftleft", lit(1L), (col("p") % 63).cast("int")).as("m"))
      .groupBy("word").agg(bit_or(col("m")).as("mask"))
    val bloomRow = words.agg(map_from_entries(
      sort_array(collect_list(struct(col("word"), col("mask"))))).as("bm"))
    val hit = (0 until 4).map { i =>
      val p = bloomPos(i, col("f"), bits)
      coalesce(element_at(col("bm"), (p / 63).cast("long")), lit(0L))
        .bitwiseAND(call_function("shiftleft", lit(1L), (p % 63).cast("int"))) =!= 0L
    }.reduce(_ && _)
    hist.crossJoin(broadcast(bloomRow))
      .select(col("doc_id"), col("f"), when(hit, 1L).otherwise(0L).as("hit"))
  }

  val specs: Seq[QuerySpec] = Seq(

    // CDC MERGE with tombstones: compact a base snapshot (events before
    // the cutoff), compact the delta log (events after), and merge —
    // delta tombstone deletes the key, delta upsert wins over base,
    // untouched base rows carry forward. The merge is ONE co-partitioned
    // full-outer join of two compacted (per-key) tables — history is
    // never rescanned, which is the entire point of CDC at 100 TB where
    // the base is the warehouse and the delta is the day's binlog.
    // SELF-CHECKING: `recompute_match` proves merged state ≡ compacting
    // the whole log from scratch, on both engines — the merge algebra
    // itself is oracled, not just the output. Exact integer cents.
    QuerySpec(
      "q197_cdc_merge",
      s"""WITH ev AS (
         |  SELECT user_id, event_id, ts,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS val_c,
         |    $sortKeySql AS sk,
         |    CASE event_type WHEN 'error' THEN 'D' WHEN 'signup' THEN 'I'
         |      ELSE 'U' END AS op
         |  FROM events),
         |cut AS (SELECT max(ts) - INTERVAL 6 HOUR AS c FROM ev),
         |base AS (
         |  SELECT user_id, max_by(event_id, sk) AS eid, max_by(op, sk) AS op,
         |    max_by(val_c, sk) AS val
         |  FROM ev WHERE ts < (SELECT c FROM cut) GROUP BY 1),
         |basek AS (SELECT * FROM base WHERE op <> 'D'),
         |delta AS (
         |  SELECT user_id, max_by(event_id, sk) AS eid, max_by(op, sk) AS op,
         |    max_by(val_c, sk) AS val
         |  FROM ev WHERE ts >= (SELECT c FROM cut) GROUP BY 1),
         |merged AS (
         |  SELECT coalesce(d.user_id, b.user_id) AS user_id,
         |    coalesce(d.eid, b.eid) AS eid, coalesce(d.val, b.val) AS val,
         |    coalesce(d.op, b.op) AS op,
         |    CASE WHEN d.user_id IS NOT NULL THEN 'delta' ELSE 'base' END AS src
         |  FROM basek b FULL JOIN delta d ON b.user_id = d.user_id
         |  WHERE NOT (d.user_id IS NOT NULL AND d.op = 'D')),
         |truth AS (
         |  SELECT user_id, max_by(event_id, sk) AS eid, max_by(val_c, sk) AS val,
         |    max_by(op, sk) AS op
         |  FROM ev GROUP BY 1),
         |truthk AS (SELECT * FROM truth WHERE op <> 'D')
         |SELECT coalesce(m.user_id, t.user_id) AS user_id,
         |  m.eid AS last_event_id, m.val AS val_c, m.op AS last_op, m.src AS src,
         |  CASE WHEN m.eid = t.eid AND m.val = t.val THEN 1 ELSE 0 END
         |    AS recompute_match
         |FROM merged m FULL JOIN truthk t ON m.user_id = t.user_id""".stripMargin) {
      (s, dir) =>
      val ev = Tables.events(s, dir).select(
        col("user_id"), col("event_id"), col("ts"),
        floor(col("value") * 100 + 0.5).cast("long").as("val_c"),
        sortKey.as("sk"), opCode.as("op"))
      // 1-row cutoff: joined (Spark broadcasts single-row sides), never
      // collected — the plan stays fully distributed.
      val cut = ev.agg(max(col("ts")).as("mx"))
        .select((col("mx") - expr("INTERVAL 6 HOURS")).as("c"))
      val staged = ev.crossJoin(cut)
      val basek = compact(staged.where(col("ts") < col("c")))
        .where(col("op") =!= "D")
        .select(col("user_id").as("b_user"), col("eid").as("b_eid"),
          col("op").as("b_op"), col("val").as("b_val"))
      val delta = compact(staged.where(col("ts") >= col("c")))
        .select(col("user_id").as("d_user"), col("eid").as("d_eid"),
          col("op").as("d_op"), col("val").as("d_val"))
      val merged = basek.join(delta, col("b_user") === col("d_user"), "full_outer")
        .where(!(col("d_user").isNotNull && col("d_op") === "D"))
        .select(coalesce(col("d_user"), col("b_user")).as("m_user"),
          coalesce(col("d_eid"), col("b_eid")).as("m_eid"),
          coalesce(col("d_val"), col("b_val")).as("m_val"),
          coalesce(col("d_op"), col("b_op")).as("m_op"),
          when(col("d_user").isNotNull, "delta").otherwise("base").as("src"))
      val truthk = compact(ev).where(col("op") =!= "D")
        .select(col("user_id").as("t_user"), col("eid").as("t_eid"),
          col("val").as("t_val"))
      merged.join(truthk, col("m_user") === col("t_user"), "full_outer")
        .select(coalesce(col("m_user"), col("t_user")).as("user_id"),
          col("m_eid").as("last_event_id"), col("m_val").as("val_c"),
          col("m_op").as("last_op"), col("src"),
          when(col("m_eid") === col("t_eid") && col("m_val") === col("t_val"),
            1L).otherwise(0L).as("recompute_match"))
    },

    // Bloom-prefiltered incremental crawl dedup — the daily-ingest
    // counterpart to dd13's LSH shape, for EXACT duplicates: the day's
    // increment (5 % of docs by id bucket) builds a 4096-bit bloom over
    // its content fingerprints; the FULL history is probed map-side
    // against the broadcast filter (66 words — constant size regardless
    // of corpus scale), and only bloom-passing rows reach the exact
    // fingerprint join. No false negatives (bloom property), so the
    // per-doc verdicts are exact; the accounting columns price the
    // filter (pass/true/false-positive counts). At 100 TB: history
    // never shuffles — the only rows that move are the handful the
    // bloom lets through. Fingerprint = md5 of the first 20 sorted
    // distinct tokens, a content signature coarse enough that the
    // synthetic corpus contains real cross-slice duplicates.
    QuerySpec(
      "dd18_bloom_incremental",
      """WITH doc AS (
        |  SELECT doc_id,
        |    md5(array_to_string(
        |      list_sort(list_distinct(string_split(text, ' ')))[1:20], ' ')) AS f
        |  FROM documents),
        |new_docs AS (SELECT * FROM doc WHERE doc_id % 20 = 0),
        |hist AS (SELECT * FROM doc WHERE doc_id % 20 <> 0),
        |pts AS (
        |  SELECT CAST('0x' || substr(md5(hs.i || ':' || f), 1, 8) AS BIGINT)
        |      % 4096 AS p
        |  FROM new_docs CROSS JOIN (SELECT unnest(range(0, 4)) AS i) hs),
        |bits AS (
        |  SELECT p // 63 AS word, bit_or(1::BIGINT << (p % 63)::INT) AS mask
        |  FROM pts GROUP BY 1),
        |hp AS (
        |  SELECT doc_id, f,
        |    CAST('0x' || substr(md5(hs.i || ':' || f), 1, 8) AS BIGINT)
        |      % 4096 AS p
        |  FROM hist CROSS JOIN (SELECT unnest(range(0, 4)) AS i) hs),
        |hflag AS (
        |  SELECT doc_id, f,
        |    min(CASE WHEN (coalesce(mask, 0) & (1::BIGINT << (p % 63)::INT)) <> 0
        |      THEN 1 ELSE 0 END) AS hit
        |  FROM hp LEFT JOIN bits ON word = p // 63 GROUP BY 1, 2),
        |acct AS (
        |  SELECT count(*)::BIGINT AS n_hist_probed,
        |    CAST(sum(hit) AS BIGINT) AS n_bloom_pass,
        |    CAST(sum(CASE WHEN hit = 1 AND f IN (SELECT f FROM new_docs)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_true_member
        |  FROM hflag),
        |m AS (
        |  SELECT n.doc_id, count(h.doc_id)::BIGINT AS n_hist
        |  FROM new_docs n LEFT JOIN (SELECT * FROM hflag WHERE hit = 1) h
        |    ON h.f = n.f
        |  GROUP BY 1)
        |SELECT m.doc_id,
        |  CAST(CASE WHEN n_hist > 0 THEN 1 ELSE 0 END AS BIGINT) AS is_dup,
        |  n_hist, n_hist_probed, n_bloom_pass, n_true_member,
        |  n_bloom_pass - n_true_member AS n_bloom_fp
        |FROM m CROSS JOIN acct""".stripMargin) { (s, dir) =>
      val doc = Tables.fanOut(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), docFingerprint.as("f"))
      val newDocs = doc.where(col("doc_id") % 20 === 0)
      val hist = doc.where(col("doc_id") % 20 =!= 0)
      // Build + probe ([[bloomFlagged]]): 66-word map row broadcast,
      // pure map-side membership test — no explode, no per-probe shuffle.
      val flagged = bloomFlagged(newDocs, hist)
      val candidates = flagged.where(col("hit") === 1L)
      val newFps = newDocs.select(col("f")).distinct()
      val acct = flagged.agg(count(lit(1)).as("n_hist_probed"),
          sum(col("hit")).as("n_bloom_pass"))
        .crossJoin(candidates.join(newFps, Seq("f"), "left_semi")
          .agg(count(lit(1)).as("n_true_member")))
      val matches = newDocs.as("n")
        .join(candidates.as("h"), col("h.f") === col("n.f"), "left")
        .groupBy(col("n.doc_id").as("doc_id"))
        .agg(count(col("h.doc_id")).as("n_hist"))
      matches.select(col("doc_id"),
          when(col("n_hist") > 0, 1L).otherwise(0L).as("is_dup"), col("n_hist"))
        .crossJoin(acct)
        .select(col("doc_id"), col("is_dup"), col("n_hist"),
          col("n_hist_probed"), col("n_bloom_pass"), col("n_true_member"),
          (col("n_bloom_pass") - col("n_true_member")).as("n_bloom_fp"))
    },

    // Per-group reservoir sampling with BOUNDED state: a deterministic
    // fixed-k sample per market segment via the map-side top-k heap
    // aggregator (graft.functions.TopKByScore) over 48-bit md5 draw
    // keys. The shuffle carries ≤ k (draw, id) pairs per partition per
    // group — NOT the group's rows, which the window-row_number
    // formulation the oracle uses would move wholesale. Replayable:
    // content-hash draws, so re-runs, retries, and repartitioning all
    // produce the same sample (a seeded rand() is none of those).
    // Complements q69 (per-stratum RATE sample) and q93 (global
    // weighted top-k): fixed-k per group is the audit-sample shape.
    QuerySpec(
      "q201_grouped_reservoir",
      """WITH s AS (
        |  SELECT c_mktsegment, c_custkey,
        |    CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS BIGINT)
        |      AS h
        |  FROM customer),
        |r AS (
        |  SELECT c_mktsegment, c_custkey, h,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY h DESC, c_custkey) AS rnk
        |  FROM s)
        |SELECT c_mktsegment, CAST(rnk AS BIGINT) AS rank, c_custkey
        |FROM r WHERE rnk <= 10""".stripMargin) { (s, dir) =>
      // 48-bit draw: exactly representable in the aggregator's Double
      // score (< 2^53); collisions are ~|group|²/2^49 — and the (score,
      // id) total order in TopKByScore matches the oracle's (h DESC,
      // c_custkey ASC) tiebreak even then.
      val draw = conv(
        substring(md5(col("c_custkey").cast("string").cast("binary")), 1, 12),
        16, 10).cast("long")
      val topk = udaf(new graft.functions.TopKByScore(10))
      Tables.customer(s, dir)
        .select(col("c_mktsegment"), col("c_custkey"), draw.cast("double").as("d"))
        .groupBy(col("c_mktsegment"))
        .agg(topk(col("d"), col("c_custkey")).as("tops"))
        .select(col("c_mktsegment"), posexplode(col("tops")).as(Seq("r0", "t")))
        .select(col("c_mktsegment"), (col("r0") + 1).cast("long").as("rank"),
          col("t._2").as("c_custkey"))
    },

    // Content-defined chunking (CDC-chunking, Rabin style) + cross-doc
    // chunk dedup — the variable-boundary sibling of tx32's fixed
    // windows: boundaries fall where a rolling 3-token fingerprint hits
    // 0 mod 16 (expected chunk ~16 tokens), so an insertion shifts ONE
    // chunk instead of every window downstream — the property dedup
    // storage and crawl re-chunking rely on. Boundary detection and
    // chunk slicing are in-row HOFs (no per-token explode); the single
    // corpus shuffle is the chunk-fingerprint groupBy carrying
    // (fp, doc_id, len) triples. Portable md5 window hashes let DuckDB
    // replay boundaries, chunks, and the dup report bit-for-bit.
    QuerySpec(
      "tx41_cdc_chunking",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    list_filter(range(3, len(toks) + 1),
        |      j -> CAST('0x' || substr(md5(toks[j-2] || ' ' || toks[j-1] || ' '
        |             || toks[j]), 1, 8) AS BIGINT) % 2147483647 % 16 = 0) AS bnd
        |  FROM t),
        |cuts AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(bnd) > 0 AND bnd[-1] = n THEN [0] || bnd
        |         ELSE [0] || bnd || [n] END AS cu
        |  FROM b),
        |ch AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(cu)),
        |      i -> md5(array_to_string(toks[cu[i]+1:cu[i+1]], ' ')))) AS chunk_fp,
        |    unnest(list_transform(range(1, len(cu)),
        |      i -> cu[i+1] - cu[i])) AS tok_len
        |  FROM cuts)
        |SELECT chunk_fp, count(DISTINCT doc_id)::BIGINT AS n_docs,
        |  count(*)::BIGINT AS n_occ, CAST(min(tok_len) AS BIGINT) AS tok_len,
        |  min(doc_id) AS keep_doc
        |FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""".stripMargin) {
      (s, dir) =>
      // Staged (tx33's lesson): projection collapse would otherwise
      // re-inline the tokenizer into every one of the many toks
      // references downstream (the boundary lambda, the cut builder,
      // and every chunk slice), re-splitting the text per reference.
      val t = graft.Staging.persist(Tables.fanOut(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), split(col("text"), " ").as("toks")))
      val winHash = (j: Column) => pmod(
        conv(substring(md5(concat_ws(" ",
          element_at(col("toks"), (j - 2).cast("int")),
          element_at(col("toks"), (j - 1).cast("int")),
          element_at(col("toks"), j.cast("int"))).cast("binary")), 1, 8), 16, 10)
          .cast("long"), lit(2147483647L))
      val b = t.select(col("doc_id"), col("toks"), size(col("toks")).as("n"),
        when(size(col("toks")) >= 3,
          filter(sequence(lit(3), size(col("toks"))), j => winHash(j) % 16 === 0))
          .otherwise(array().cast("array<int>")).as("bnd"))
      val cuts = b.select(col("doc_id"), col("toks"),
        when(size(col("bnd")) > 0 &&
            try_element_at(col("bnd"), lit(-1)) === col("n"),
          concat(array(lit(0)), col("bnd")))
          .otherwise(concat(array(lit(0)), col("bnd"), array(col("n"))))
          .as("cu"))
      val ch = cuts.select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("cu")) - 1), i => struct(
            md5(array_join(slice(col("toks"),
              element_at(col("cu"), i.cast("int")) + 1,
              element_at(col("cu"), (i + 1).cast("int"))
                - element_at(col("cu"), i.cast("int"))), " ").cast("binary"))
              .as("chunk_fp"),
            (element_at(col("cu"), (i + 1).cast("int"))
              - element_at(col("cu"), i.cast("int"))).cast("long").as("tok_len"))))
            .as("c"))
        .select(col("doc_id"), col("c.chunk_fp"), col("c.tok_len"))
      ch.groupBy(col("chunk_fp"))
        .agg(count_distinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"), min(col("tok_len")).as("tok_len"),
          min(col("doc_id")).as("keep_doc"))
        .where(col("n_docs") >= 2)
    },

    // Streaming CDC compaction — q197's merge algebra running as a
    // stream: per-user latest-wins state (`Streams.cdcCompactState`,
    // flatMapGroupsWithState) folds the change log batch by batch; the
    // final state is recovered batch-robustly (max_by on the monotone
    // emission count) and the tombstone filter applies AFTER recovery,
    // so a user whose last event is a delete disappears exactly as in
    // the batch compaction the oracle runs. State is one 5-field row
    // per user — bounded by key cardinality, not stream length.
    QuerySpec(
      "st22_stream_cdc",
      s"""WITH ev AS (
         |  SELECT user_id, event_id,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS val_c,
         |    $sortKeySql AS sk,
         |    CASE event_type WHEN 'error' THEN 'D' WHEN 'signup' THEN 'I'
         |      ELSE 'U' END AS op
         |  FROM events),
         |t AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         |    max_by(event_id, sk) AS last_event_id, max_by(op, sk) AS op,
         |    max_by(val_c, sk) AS val_c
         |  FROM ev GROUP BY 1)
         |SELECT user_id, n, last_event_id, val_c
         |FROM t WHERE op <> 'D'""".stripMargin) { (s, dir) =>
      val log = graft.streaming.Streams.eventsStream(s, dir).select(
        col("user_id"), col("event_id"), sortKey.as("sk"), opCode.as("op"),
        floor(col("value") * 100 + 0.5).cast("long").as("val_c"))
      graft.streaming.Streams.runToTable(
          graft.streaming.Streams.cdcCompactState(log), "st22_mem", "update")
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n"),
          max_by(col("last_event_id"), col("n")).as("last_event_id"),
          max_by(col("last_op"), col("n")).as("op"),
          max_by(col("val_c"), col("n")).as("val_c"))
        .where(col("op") =!= "D")
        .select(col("user_id"), col("n"), col("last_event_id"), col("val_c"))
    },

    // Point-in-time-correct FEATURE JOIN — the feature-store operation
    // every supervised pipeline needs: for each label event (a
    // purchase), attach features computed ONLY from events strictly
    // before it (no label leakage; q167 screens for the bug, this op
    // prevents it by construction). NOT a per-label rescan of history:
    // label and feature rows ride ONE per-user time-ordered window —
    // lifetime counts via a strict ROWS frame, trailing 7-day spend via
    // a RANGE frame on epoch seconds ending 1 s before the label — so
    // the cost is one co-partitioned sort per user regardless of label
    // count, the shape that survives when features span years of
    // history. All-integer features; both frames replay exactly in SQL.
    QuerySpec(
      "q206_pit_features",
      s"""WITH ev AS (
         |  SELECT user_id, event_id, event_type, epoch(ts) AS es,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS val_c,
         |    $sortKeySql AS sk
         |  FROM events),
         |w AS (
         |  SELECT user_id, event_id, event_type, es,
         |    count(*) OVER (PARTITION BY user_id ORDER BY sk
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS prior_events,
         |    count(CASE WHEN event_type = 'purchase' THEN 1 END)
         |      OVER (PARTITION BY user_id ORDER BY sk
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS prior_purchases,
         |    sum(val_c) OVER (PARTITION BY user_id ORDER BY es
         |      RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING)
         |      AS spend_7d_c
         |  FROM ev)
         |SELECT user_id, event_id AS label_event_id,
         |  CAST(prior_events AS BIGINT) AS prior_events,
         |  CAST(prior_purchases AS BIGINT) AS prior_purchases,
         |  CAST(coalesce(spend_7d_c, 0) AS BIGINT) AS spend_7d_c
         |FROM w WHERE event_type = 'purchase'""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir).select(
        col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("eu"),
        floor(col("value") * 100 + 0.5).cast("long").as("val_c"),
        sortKey.as("sk"))
        .withColumn("es", expr("eu DIV 1000000"))
      val rows = Window.partitionBy("user_id").orderBy("sk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val range = Window.partitionBy("user_id").orderBy("es")
        .rangeBetween(-604800L, -1L)
      ev.select(col("user_id"), col("event_id"), col("event_type"),
          count(lit(1)).over(rows).as("prior_events"),
          count(when(col("event_type") === "purchase", 1)).over(rows)
            .as("prior_purchases"),
          sum(col("val_c")).over(range).as("spend_7d"))
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("label_event_id"),
          col("prior_events"), col("prior_purchases"),
          coalesce(col("spend_7d"), lit(0L)).as("spend_7d_c"))
    },

    // q206's feature join running as an APPEND-mode stream
    // (`Streams.pitFeatureState`): each purchase emits its
    // strictly-prior features exactly once as the stream advances —
    // online feature engineering with bounded per-user state (two
    // counters + the trailing-week buffer). The oracle is q206's batch
    // SQL verbatim: streamed features must equal the batch window
    // computation row for row.
    QuerySpec(
      "st24_stream_pit_features",
      s"""WITH ev AS (
         |  SELECT user_id, event_id, event_type, epoch(ts) AS es,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS val_c,
         |    $sortKeySql AS sk
         |  FROM events),
         |w AS (
         |  SELECT user_id, event_id, event_type, es,
         |    count(*) OVER (PARTITION BY user_id ORDER BY sk
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS prior_events,
         |    count(CASE WHEN event_type = 'purchase' THEN 1 END)
         |      OVER (PARTITION BY user_id ORDER BY sk
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS prior_purchases,
         |    sum(val_c) OVER (PARTITION BY user_id ORDER BY es
         |      RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING)
         |      AS spend_7d_c
         |  FROM ev)
         |SELECT user_id, event_id AS label_event_id,
         |  CAST(prior_events AS BIGINT) AS prior_events,
         |  CAST(prior_purchases AS BIGINT) AS prior_purchases,
         |  CAST(coalesce(spend_7d_c, 0) AS BIGINT) AS spend_7d_c
         |FROM w WHERE event_type = 'purchase'""".stripMargin) { (s, dir) =>
      val log = graft.streaming.Streams.eventsStream(s, dir).select(
        col("user_id"), sortKey.as("sk"), col("event_id"), col("event_type"),
        expr("unix_micros(cast(ts as timestamp)) DIV 1000000").as("es"),
        floor(col("value") * 100 + 0.5).cast("long").as("val_c"))
      graft.streaming.Streams.runToTable(
        graft.streaming.Streams.pitFeatureState(log), "st24_mem", "append")
    },

    // Custom DataSource V2 (`graft.sources.PagedApiSource`) — the
    // paginated-REST staging step (reference A1) in the shape a 100 TB
    // engine needs: one InputPartition per page, executors fetch their
    // own pages, the driver never holds payload, and column pruning
    // reaches the reader (SupportsPushDownRequiredColumns — this query
    // synthesizes/ships 3 of 4 columns, `id` never materializes).
    // Records are a pure function of
    // their offset, so DuckDB regenerates the identical table from
    // range() and the whole source is hash-oracled end to end.
    QuerySpec(
      "a10_dsv2_paged_source",
      """WITH api AS (
        |  SELECT i % 97 AS user_id, (i * 31 + 7) % 1000 AS score,
        |    CASE i % 4 WHEN 0 THEN 'news' WHEN 1 THEN 'blog'
        |      WHEN 2 THEN 'forum' ELSE 'wiki' END AS category
        |  FROM (SELECT unnest(range(0, 10000)) AS i))
        |SELECT category, count(*)::BIGINT AS n,
        |  CAST(sum(score) AS BIGINT) AS score_sum,
        |  count(DISTINCT user_id)::BIGINT AS n_users
        |FROM api GROUP BY 1""".stripMargin) { (s, dir) =>
      s.read.format("graft.sources.PagedApiSource")
        .option("pages", 40).option("pageSize", 250).load()
        .groupBy("category")
        .agg(count(lit(1)).as("n"), sum(col("score")).as("score_sum"),
          count_distinct(col("user_id")).as("n_users"))
    },

    // The same DSv2 source read INCREMENTALLY (MICRO_BATCH_READ): the
    // offset is the page cursor — exactly what a paginated API hands
    // back — so each micro-batch fetches only the pages between the
    // committed cursor and the feed's end, and a restarted query
    // resumes at the first uncommitted page. AvailableNow drains the
    // feed; the streamed complete-mode aggregate must equal the batch
    // scan's (the oracle) — the "tail the API" ingestion shape.
    QuerySpec(
      "st25_stream_paged_source",
      """WITH api AS (
        |  SELECT (i * 31 + 7) % 1000 AS score,
        |    CASE i % 4 WHEN 0 THEN 'news' WHEN 1 THEN 'blog'
        |      WHEN 2 THEN 'forum' ELSE 'wiki' END AS category
        |  FROM (SELECT unnest(range(0, 10000)) AS i))
        |SELECT category, count(*)::BIGINT AS n,
        |  CAST(sum(score) AS BIGINT) AS score_sum
        |FROM api GROUP BY 1""".stripMargin) { (s, dir) =>
      val agg = s.readStream.format("graft.sources.PagedApiSource")
        .option("pages", 40).option("pageSize", 250).load()
        .groupBy("category")
        .agg(count(lit(1)).as("n"), sum(col("score")).as("score_sum"))
      graft.streaming.Streams.runToTable(agg, "st25_mem", "complete")
    },

    // ManifestSink round trip END TO END (reference A4's object-store
    // sink + its read barrier): the documents corpus — full of
    // newlines, tabs, and quotes, exactly the payload class that breaks
    // naive NDJSON framing — is written through the V2 two-phase
    // committer and read back through the committed-files-only scan,
    // then hashed per language. The oracle aggregates the SOURCE table
    // directly, so a single corrupted byte anywhere in the
    // write-escape-commit-scan-unescape loop breaks the hash match:
    // atomic visibility and payload fidelity are proven in one spec.
    QuerySpec(
      "a11_manifest_roundtrip",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_a11_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
      // Overwrite (SupportsTruncate) keeps re-runs idempotent: one
      // manifest swap publishes this run's files and retires the last.
      Tables.documents(s, dir)
        .write.format("graft.sources.ManifestSink")
        .option("path", out).mode("overwrite").save()
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.format("graft.sources.ManifestSink")
        .schema(schema).option("path", out).load()
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("text_hash"))
    },

    // File SKIPPING through the manifest's per-file min/max bounds —
    // the parquet-row-group idea at DSv2 file granularity: documents
    // land range-partitioned by doc_id (the sorted/Z-ordered layout a
    // 100 TB table actually has), so the doc_id range predicate prunes
    // whole files from the PLAN (pinned in IngestSpec: a point lookup
    // plans 1 of 4 files, an impossible one plans zero) while this
    // oracle proves the skip path loses no qualifying row. Every
    // filter stays residual, so skipping is pure optimization.
    QuerySpec(
      "a12_manifest_skipping",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id >= 100 AND doc_id < 300
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_a12_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
      Tables.documents(s, dir)
        .repartitionByRange(8, col("doc_id"))
        .write.format("graft.sources.ManifestSink")
        .option("path", out).mode("overwrite").save()
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.format("graft.sources.ManifestSink")
        .schema(schema).option("path", out).load()
        .where(col("doc_id") >= 100 && col("doc_id") < 300)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
    },

    // TIME TRAVEL over retained snapshots (retainHistory → versionAsOf,
    // the Iceberg snapshot model on the manifest committer): two
    // overwrite commits build generations 1 (half the corpus) and 2
    // (all of it) into a FRESH table dir, then both generations are
    // read back and aggregated side by side. The oracle replays each
    // snapshot's defining predicate against the source table — if
    // overwrite had torn history or versionAsOf resolved the wrong
    // manifest, either branch's hash breaks.
    QuerySpec(
      "a13_manifest_time_travel",
      """SELECT * FROM (
        |  SELECT 'g1' AS v, count(*)::BIGINT AS n,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents WHERE doc_id < 250
        |  UNION ALL
        |  SELECT 'g2', count(*)::BIGINT, CAST(sum(n_chars) AS BIGINT)
        |  FROM documents)""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      // Fresh table per run: generation numbers are part of the spec's
      // semantics, so the history must start at 1 deterministically.
      val out = freshDir("a13", dir)
      def write(df: org.apache.spark.sql.DataFrame): Unit =
        df.coalesce(2).write.format("graft.sources.ManifestSink")
          .option("path", out.toString).option("retainHistory", "true")
          .mode("overwrite").save()
      write(Tables.documents(s, dir).where(col("doc_id") < 250)) // gen 1
      write(Tables.documents(s, dir))                            // gen 2
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      def snap(gen: Int): org.apache.spark.sql.DataFrame =
        s.read.format("graft.sources.ManifestSink").schema(schema)
          .option("path", out.toString).option("versionAsOf", gen.toString)
          .load()
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
          .select(lit(s"g$gen").as("v"), col("n"), col("sum_chars"))
      snap(1).unionAll(snap(2))
    },

    // COMPACTION (the small-files problem): the documents corpus lands
    // as 16 deliberately tiny files, ManifestSink.compact bin-packs
    // them into few large ones in one atomic manifest swap — NDJSON is
    // line-framed, so the merge is driver-side concatenation, no Spark
    // job — and the post-compaction scan must still hash-match the
    // source table exactly (per-language counts + a content hash over
    // text, so one lost or doubled record anywhere breaks it).
    QuerySpec(
      "a14_manifest_compaction",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_a14_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
      Tables.documents(s, dir).repartition(16)
        .write.format("graft.sources.ManifestSink")
        .option("path", out).mode("overwrite").save()
      // Bin-pack everything below the target; at sf0.01's 500 docs the
      // 16 ~31-row files collapse to a handful of ≤200-row files.
      graft.sources.ManifestSink.compact(out, targetRows = 200L)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.format("graft.sources.ManifestSink")
        .schema(schema).option("path", out).load()
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("text_hash"))
    },

    // BYTE-RANGE SPLIT reads (the 10 GB-file problem): the corpus lands
    // as TWO committed files, and the scan is forced through the
    // Hadoop-line-split path with a 4 KB maxSplitBytes — dozens of
    // range partitions per file, every record owned by exactly the
    // split containing its first byte. The oracle aggregates the source
    // table directly, so one record lost or doubled at ANY split
    // boundary (mid-document, mid-UTF-8 sequence, at a newline) breaks
    // the count or the content hash. Round 9 shipped this reader with
    // zero split coverage; this spec is the standing regression.
    QuerySpec(
      "a15_manifest_split_read",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_a15_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
      Tables.documents(s, dir).coalesce(2)
        .write.format("graft.sources.ManifestSink")
        .option("path", out).mode("overwrite").save()
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val table = s.read.format("graft.sources.ManifestSink")
        .schema(schema).option("path", out)
        .option("maxSplitBytes", "4096").load()
      table.groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("text_hash"))
    },

    // BRACES IN STRING STATS (the round-9 manifest-parse data-loss bug,
    // oracled): every document gets '{'/'}' planted around its text, so
    // the per-file min/max string bounds that ride the manifest contain
    // braces — exactly what the old flat-regex parser corrupted,
    // silently dropping committed files. Two commits (overwrite then
    // append) force the second commit to COMPOSE the brace-stat entries
    // forward; the oracle aggregates the transformed source, so one
    // dropped file breaks counts and hashes.
    QuerySpec(
      "a16_manifest_brace_stats",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(CAST('0x' || substr(md5('{' || text || '}'), 1, 8) AS BIGINT))
        |    AS BIGINT) AS text_hash
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_a16_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
      val braced = Tables.documents(s, dir).select(
        col("doc_id"),
        concat(lit("{"), col("text"), lit("}")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      braced.where(col("doc_id") % 2 === 0).coalesce(2)
        .write.format("graft.sources.ManifestSink")
        .option("path", out).mode("overwrite").save()
      braced.where(col("doc_id") % 2 === 1).coalesce(2)
        .write.format("graft.sources.ManifestSink")
        .option("path", out).mode("append").save()
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.format("graft.sources.ManifestSink")
        .schema(schema).option("path", out).load()
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("text_hash"))
    },

    // The TWO-LEVEL manifest (manifest-list layer), oracled end-to-end:
    // four commits land as SEGMENTED appends — each writes one new
    // segment plus a tiny pointer, O(delta) bytes, never re-rendering
    // prior entries — and maxSegments=3 forces the fourth commit down
    // the COLLAPSE path (one segment, retired segments swept), so both
    // publish paths and the segment-resolving read are under one
    // oracle: a row lost by a mis-carried segment reference, doubled by
    // a bad collapse, or dropped by the sweep breaks the hash.
    QuerySpec(
      "a17_manifest_segments",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_a17_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
      val docs = Tables.documents(s, dir)
      (0 to 3).foreach { k =>
        docs.where(col("doc_id") % 4 === k).coalesce(1)
          .write.format("graft.sources.ManifestSink")
          .option("path", out).option("maxsegments", "3")
          .mode(if (k == 0) "overwrite" else "append").save()
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.format("graft.sources.ManifestSink")
        .schema(schema).option("path", out).load()
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("text_hash"))
    },

    // PARTITIONED writes (the Hive/Iceberg layout idea on the manifest
    // committer): the corpus is written with partitionBy=lang — each
    // task emits one single-language file, whose manifest bounds record
    // min == max for `lang` — so the IN-filtered read plans ONLY the
    // two matching languages' files (pinned in IngestSpec: equality
    // plans 1 file, deleted non-matching partitions stay unread). The
    // oracle replays the same predicate against the source table, so a
    // row mis-routed at write or a file wrongly pruned at read breaks
    // the per-(lang, source) counts and hashes.
    QuerySpec(
      "a18_manifest_partitioned",
      """SELECT lang, source, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM documents WHERE lang IN ('en', 'zh')
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_a18_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
      // Repartition BY the partition column first (the documented
      // pattern): each task holds whole languages, so the writer emits
      // one file per (task, lang) without a small-files explosion.
      Tables.documents(s, dir).repartition(col("lang"))
        .write.format("graft.sources.ManifestSink")
        .option("path", out).option("partitionBy", "lang")
        .mode("overwrite").save()
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.format("graft.sources.ManifestSink")
        .schema(schema).option("path", out).load()
        .where(col("lang").isin("en", "zh"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("text_hash"))
    },

    // The CATALOG + SQL DML surface, oracled end-to-end: a GraftCatalog
    // table is CREATEd partitioned by lang, INSERTed from the corpus,
    // a whole partition is DELETEd — metadata-only, provable because
    // partitioned files record min == max bounds and exact null counts
    // (mustMatch) — and the survivors are read back through SQL. The
    // oracle replays the delete's complement against the source table:
    // a file wrongly dropped, wrongly kept, or partially deleted breaks
    // the per-(lang, source) counts and content hashes.
    QuerySpec(
      "a19_catalog_sql_delete",
      """SELECT lang, source, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM documents WHERE lang <> 'de'
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val wh = freshDir("a19", dir)
      val cat = "graft_a19"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.docs")
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, text STRING,
        lang STRING, source STRING, n_chars BIGINT)
        PARTITIONED BY (lang)""")
      Tables.documents(s, dir).repartition(col("lang"))
        .createOrReplaceTempView("a19_src")
      s.sql(s"""INSERT INTO $cat.docs
        SELECT doc_id, text, lang, source, n_chars FROM a19_src""")
      s.sql(s"DELETE FROM $cat.docs WHERE lang = 'de'")
      s.sql(s"""SELECT lang, source, count(*) AS n,
        sum(n_chars) AS sum_chars,
        sum(cast(conv(substr(md5(cast(text AS BINARY)), 1, 8), 16, 10)
          AS BIGINT)) AS text_hash
        FROM $cat.docs GROUP BY lang, source""")
    },

    // The STREAMING half of the committer, oracled end-to-end: the
    // events stream drains through the epoch-idempotent V2 sink
    // (attempt-unique staging → deterministic epoch names → per-epoch
    // manifest swaps), then the committed table is read back through
    // the manifest scan and aggregated. The oracle aggregates the
    // source table directly — any record an epoch dropped, doubled
    // (replay), or corrupted breaks the hash. Checkpoint and table dir
    // are rebuilt fresh per run so epoch numbering is deterministic.
    QuerySpec(
      "st26_stream_manifest_sink",
      """SELECT event_type, count(*)::BIGINT AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_c
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val base = freshDir("st26", dir)
      val out = base.resolve("table").toString
      val q = graft.streaming.Streams.eventsStream(s, dir)
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("val_c"))
        .writeStream.format("graft.sources.ManifestSink")
        .option("path", out)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("val_c", LongType)))
      s.read.format("graft.sources.ManifestSink")
        .schema(schema).option("path", out).load()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("val_c")).as("sum_c"))
    },

    // Copy-on-write MERGE (Delta-MERGE shape on the manifest
    // committer): the corpus lands range-partitioned by doc_id, a CDC
    // batch updates every 5th document (text suffixed, n_chars bumped)
    // and inserts brand-new ones; ManifestOps.mergeInto plans the
    // affected files FROM MANIFEST STATS (only key-overlapping files
    // are read or rewritten — IngestSpec pins 1 of 4), anti-joins the
    // untouched rows, and swaps rewrites for originals in ONE manifest
    // generation. The oracle computes the post-merge state relationally
    // (non-updated ∪ updated ∪ inserted): a row lost in the rewrite,
    // doubled across the swap, or merged against stale keys breaks the
    // per-lang counts and hashes.
    QuerySpec(
      "a20_manifest_merge_upsert",
      """WITH merged AS (
        |  SELECT doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT doc_id, text || '~v2', lang, source, n_chars + 3
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'inserted doc ' || doc_id, 'xx',
        |    source, 13 + length(CAST(doc_id AS VARCHAR))
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM merged GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val out = freshDir("a20", dir).toString
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      docs.repartitionByRange(4, col("doc_id"))
        .write.format("graft.sources.ManifestSink")
        .option("path", out).mode("overwrite").save()
      val updates = docs.where(col("doc_id") % 5 === 0)
        .withColumn("text", concat(col("text"), lit("~v2")))
        .withColumn("n_chars", col("n_chars") + 3)
        .unionByName(docs.where(col("doc_id") % 7 === 0).select(
          (col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("inserted doc "), col("doc_id")).as("text"),
          lit("xx").as("lang"), col("source"),
          (lit(13) + length(col("doc_id").cast("string"))
            .cast("long")).as("n_chars")))
      graft.sources.ManifestOps.mergeInto(s, out, updates, "doc_id")
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.format("graft.sources.ManifestSink")
        .schema(schema).option("path", out).load()
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("text_hash"))
    },

    // OPTIMIZE/cluster (Delta's OPTIMIZE ZORDER shape): the corpus
    // lands hash-shuffled — every file's doc_id bounds span the whole
    // domain, so nothing prunes — then ManifestOps.cluster rewrites it
    // range-sorted by doc_id in ONE atomic overwrite commit, and the
    // same range predicate now plans only the overlapping files
    // (IngestSpec pins 4 → 1 on a point lookup). The oracle replays the
    // predicate against the source table: a row lost, doubled, or
    // mis-sorted across the rewrite breaks counts and hashes.
    QuerySpec(
      "a21_manifest_cluster",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM documents WHERE doc_id >= 100 AND doc_id < 300
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val out = freshDir("a21", dir).toString
      Tables.documents(s, dir).repartition(8)
        .write.format("graft.sources.ManifestSink")
        .option("path", out).mode("overwrite").save()
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      graft.sources.ManifestOps.cluster(s, out, schema,
        Seq(col("doc_id")), numFiles = 4)
      s.read.format("graft.sources.ManifestSink")
        .schema(schema).option("path", out).load()
        .where(col("doc_id") >= 100 && col("doc_id") < 300)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("text_hash"))
    },

    // The manifest table as a STREAMING SOURCE (generation offsets —
    // the Delta/Iceberg "streaming table" idea): the corpus lands in
    // THREE retained commits, and the tail drains them under
    // maxGenerationsPerTrigger=1, so every commit becomes its own
    // micro-batch resolving a RETAINED intermediate generation — three
    // real incremental (gen, gen+1] diffs, not one bulk read. The
    // complete-mode aggregate over the tailed rows must equal the batch
    // aggregate of the source table (the oracle): a row re-delivered by
    // a wrong diff, dropped by a missed generation, or mis-framed by
    // the NDJSON reader breaks the counts and hashes.
    QuerySpec(
      "st28_stream_manifest_source",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val out = freshDir("st28", dir).toString
      val docs = Tables.documents(s, dir)
      (0 to 2).foreach { k =>
        docs.where(col("doc_id") % 3 === k).coalesce(1)
          .write.format("graft.sources.ManifestSink")
          .option("path", out).option("retainHistory", "true")
          .mode(if (k == 0) "overwrite" else "append").save()
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val agg = s.readStream.format("graft.sources.ManifestSink")
        .schema(schema).option("path", out)
        .option("maxGenerationsPerTrigger", "1").load()
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("text_hash"))
      graft.streaming.Streams.runToTable(agg, "st28_mem", "complete")
    },

    // PARQUET-KIND COMPOSE CAPSTONE (round-16): every columnar-lane
    // feature on ONE table, because each is individually proven and
    // the composition is where ordinal bookkeeping breaks. Quarters A
    // and B land with leaf-bloom sidecars (gens 1-2), a DV DELETE
    // kills their %10==3 rows by ordinal (gen 3, files not
    // rewritten), a leaf-keyed tombstone retracts their %97==13 keys
    // (gen 4), quarters C and D plus an 'xx' re-insert of the
    // tombstoned keys land AFTER the tombstone (gens 5-7 — the seq
    // rule keeps them; they are also the delete-free compaction
    // candidates), row-group-append compaction merges those three
    // small files while the DV'd tombstone-carrying A/B entries carry
    // over untouched (gen 8), and the final scan reads through
    // 8 KB BYTE-RANGE SPLITS, so the compacted multi-row-group file
    // fans out and every split re-derives its ordinal base from the
    // footer. A wrong ordinal base, a resurrected DV'd row, a
    // tombstone skipped or over-applied, or a compaction row drop
    // breaks the per-language counts/sums against the oracle.
    QuerySpec(
      "a64_parquet_compose",
      """WITH survivors AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  WHERE doc_id % 4 IN (0, 1) AND doc_id % 10 <> 3
        |    AND doc_id % 97 <> 13
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars FROM documents
        |  WHERE doc_id % 4 IN (2, 3)
        |  UNION ALL
        |  SELECT doc_id, 'xx' AS lang, n_chars FROM documents
        |  WHERE doc_id % 4 IN (0, 1) AND doc_id % 97 = 13
        |)
        |SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM survivors GROUP BY lang""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val wh = freshDir("a64", dir)
      val cat = "graft_a64_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.docs (row_id BIGINT,
        profile STRUCT<doc_id: BIGINT, lang: STRING, n_chars: BIGINT>)
        TBLPROPERTIES ('filekind'='parquet', 'deletionvectors'='true',
          'bloomcolumns'='profile.doc_id')""")
      val docs = Tables.documents(s, dir).selectExpr("doc_id AS row_id",
        "named_struct('doc_id', doc_id, 'lang', lang, 'n_chars', " +
          "n_chars) AS profile")
      Seq(0, 1).foreach(q => docs.where(col("row_id") % 4 === q)
        .coalesce(1).writeTo(s"$cat.docs").append()) // gens 1-2
      s.sql(s"DELETE FROM $cat.docs WHERE row_id % 10 = 3") // gen 3, DVs
      graft.sources.ManifestOps.equalityDelete(s"$wh/docs",
        docs.where(col("row_id") % 97 === 13)
          .selectExpr("row_id AS `profile.doc_id`")) // gen 4, tombstone
      Seq(2, 3).foreach(q => docs.where(col("row_id") % 4 === q)
        .coalesce(1).writeTo(s"$cat.docs").append()) // gens 5-6
      docs.where(col("row_id") % 4 < 2 && col("row_id") % 97 === 13)
        .selectExpr("row_id", "named_struct('doc_id', profile.doc_id, " +
          "'lang', 'xx', 'n_chars', profile.n_chars) AS profile")
        .coalesce(1).writeTo(s"$cat.docs").append() // gen 7, re-insert
      graft.sources.ManifestSink.compact(s"$wh/docs", 10L * 1000 * 1000)
      val schema = StructType(Seq(StructField("row_id", LongType),
        StructField("profile", StructType(Seq(
          StructField("doc_id", LongType), StructField("lang", StringType),
          StructField("n_chars", LongType))))))
      s.read.format("graft.sources.ManifestSink").schema(schema)
        .option("path", s"$wh/docs").option("maxsplitbytes", "8192").load()
        .groupBy(col("profile.lang").as("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("profile.n_chars")).as("sum_chars"),
          sum(col("profile.doc_id")).as("sum_ids"))
    },

    // STREAMING READS FROM THE PARQUET KIND (round-16): the st28
    // generation-offset tail run against `filekind='parquet'` children
    // CARRYING ROW-LEVEL DELETES — the read leg the round-15 epoch
    // writes left unexercised. The corpus's doc_id%3==0 third lands as
    // parquet (gen 1), a DV DELETE kills its %10==7 rows (gen 2, file
    // NOT rewritten — ordinal-keyed vector), an equality delete
    // tombstones its %97==13 keys (gen 3), then two more thirds append
    // (gens 4, 5). The tail drains under maxGenerationsPerTrigger=3:
    // the first micro-batch reads the parquet children WITH the vector
    // and tombstone applied (rows landing after the deletes keep their
    // matching ids — DVs and the seq rule are per-file, which the
    // oracle mirrors), the next two are real (gen, gen+1] diffs. A
    // vector ignored by the vectorized reader, a tombstone skipped on
    // a parquet child, or a mis-planned window breaks counts/hashes.
    QuerySpec(
      "st32_stream_parquet_source",
      """WITH survivors AS (
        |  SELECT doc_id, lang, n_chars, text FROM documents
        |  WHERE doc_id % 3 = 0 AND doc_id % 10 <> 7 AND doc_id % 97 <> 13
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars, text FROM documents
        |  WHERE doc_id % 3 <> 0
        |)
        |SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM survivors GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val wh = freshDir("st32", dir)
      val cat = "graft_st32_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, text STRING,
        lang STRING, n_chars BIGINT)
        TBLPROPERTIES ('filekind'='parquet', 'retainHistory'='true',
          'deletionvectors'='true')""")
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      docs.where(col("doc_id") % 3 === 0).coalesce(1)
        .writeTo(s"$cat.docs").append() // gen 1, parquet
      s.sql(s"DELETE FROM $cat.docs WHERE doc_id % 10 = 7") // gen 2, DV
      graft.sources.ManifestOps.equalityDelete(s"$wh/docs",
        docs.where(col("doc_id") % 97 === 13).select(col("doc_id")),
        retain = true) // gen 3, tombstone
      (1 to 2).foreach { k =>
        docs.where(col("doc_id") % 3 === k).coalesce(1)
          .writeTo(s"$cat.docs").append() // gens 4, 5
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("n_chars", LongType)))
      val agg = s.readStream.format("graft.sources.ManifestSink")
        .schema(schema).option("path", s"$wh/docs")
        .option("maxGenerationsPerTrigger", "3").load()
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("text_hash"))
      graft.streaming.Streams.runToTable(agg, "st32_mem", "complete")
    },

    // LIMIT / TOP-N PUSHDOWN (round-16): `ORDER BY k LIMIT n` plans
    // only the files that may hold a top-n row — the coverage-cutoff
    // file pruning behind SupportsPushDownTopN (HeadPushdownSpec pins
    // the planned-partition counts; a 5-row limit over 8 files plans
    // 1). Here the semantics are proven END TO END against the oracle,
    // composed with a deletion vector: the corpus lands
    // range-partitioned by doc_id (the time/id-sorted layout a 100 TB
    // table has), a merge-on-read DELETE kills doc_id < 50, and both
    // sort directions take their top 20 — the ascending leg's answer
    // sits entirely inside the DV'd boundary file, so a plan that
    // trusted physical bounds over liveRows, or dropped the vector on
    // the pruned read, returns deleted rows and breaks the hash.
    // Pushdown is PARTIAL by contract (Spark re-sorts the planned
    // superset), so pruning can never cost correctness — this spec
    // exists to catch a coverage bug that plans too FEW files.
    QuerySpec(
      "a65_topn_pushdown",
      """WITH live AS (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id >= 50
        |), asc20 AS (
        |  SELECT * FROM live ORDER BY doc_id LIMIT 20
        |), desc20 AS (
        |  SELECT * FROM live ORDER BY doc_id DESC LIMIT 20
        |)
        |SELECT 'asc' AS leg, doc_id, lang, n_chars FROM asc20
        |UNION ALL
        |SELECT 'desc' AS leg, doc_id, lang, n_chars FROM desc20""".stripMargin) { (s, dir) =>
      val wh = freshDir("a65", dir)
      val cat = "graft_a65_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, lang STRING,
        n_chars BIGINT) TBLPROPERTIES ('deletionvectors'='true')""")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartitionByRange(8, col("doc_id"))
        .writeTo(s"$cat.docs").append()
      s.sql(s"DELETE FROM $cat.docs WHERE doc_id < 50") // DV, file 1
      val t = s.sql(s"SELECT doc_id, lang, n_chars FROM $cat.docs")
      def leg(name: String, sorted: org.apache.spark.sql.DataFrame) =
        sorted.limit(20).select(lit(name).as("leg"), col("doc_id"),
          col("lang"), col("n_chars"))
      leg("asc", t.orderBy(col("doc_id")))
        .unionAll(leg("desc", t.orderBy(col("doc_id").desc)))
    },

    // ATOMIC CTAS / RTAS (round-16, StagingTableCatalog on
    // GraftCatalog): without staging, Spark executes REPLACE TABLE AS
    // SELECT as drop-then-create — a crash mid-rebuild LOSES the
    // table, which a nightly 100 TB corpus rebuild cannot risk. Here
    // the full lifecycle runs against the oracle: CTAS lands the
    // corpus (atomic directory rename — the table appears complete or
    // not at all), a sabotaged RTAS (raise_error mid-write) fails and
    // MUST leave the CTAS state byte-identically readable (the 'pre'
    // leg — the deferred publish means the old manifest was never
    // touched), then the real RTAS swaps in the filtered rebuild as
    // one truncate-commit (the 'post' leg). StagingCatalogSpec pins
    // the failure shapes and staging-residue cleanup filesystem-wise.
    QuerySpec(
      "a66_atomic_rtas",
      """SELECT 'pre' AS leg, lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2
        |UNION ALL
        |SELECT 'post' AS leg, lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE n_chars >= 50 GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val wh = freshDir("a66", dir)
      val cat = "graft_a66_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .createOrReplaceTempView("a66_src")
      s.sql(s"CREATE TABLE $cat.corpus AS SELECT * FROM a66_src")
      // Sabotaged rebuild: the write job dies mid-flight; the staged
      // commit is aborted and the live table must be untouched.
      try s.sql(s"""REPLACE TABLE $cat.corpus AS
        SELECT doc_id, CAST(raise_error('rebuild crash') AS STRING) AS lang, n_chars
        FROM a66_src""")
      catch { case _: Exception => () }
      // Materialized EAGERLY: the leg must read the table BEFORE the
      // replace below lands (DataFrames are lazy — an unexecuted plan
      // would re-resolve the post-RTAS manifest at dump time).
      val preQ = s.sql(s"""SELECT 'pre' AS leg, lang, count(*) AS n,
        sum(n_chars) AS sum_chars FROM $cat.corpus GROUP BY 1, 2""")
      val pre = s.createDataFrame(
        java.util.Arrays.asList(preQ.collect(): _*), preQ.schema)
      s.sql(s"""REPLACE TABLE $cat.corpus AS
        SELECT doc_id, lang, n_chars FROM a66_src WHERE n_chars >= 50""")
      val post = s.sql(s"""SELECT 'post' AS leg, lang, count(*) AS n,
        sum(n_chars) AS sum_chars FROM $cat.corpus GROUP BY 1, 2""")
      pre.unionAll(post)
    },

    // ENFORCED CHECK CONSTRAINTS (round-16, the ANSI constraint API on
    // GraftCatalog): the table declares CHECK (n_chars >= 50) at
    // CREATE; the conforming corpus slice lands, then an INSERT of the
    // FULL corpus — which contains violating rows — must fail as a
    // whole (Spark's analyzer plants the validation in the write plan;
    // the two-phase committer publishes nothing for a failed job, so
    // even the batch's VALID rows stay out). The aggregate over the
    // surviving table proves both halves against the oracle: a
    // constraint silently not enforced doubles the counts and admits
    // n_chars < 50; a leaked partial batch breaks the sums.
    // ConstraintSpec pins ALTER ADD/DROP, existing-row validation, and
    // informational PK/FK round-trips.
    QuerySpec(
      "a67_check_constraints",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE n_chars >= 50 GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = freshDir("a67", dir)
      val cat = "graft_a67_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.corpus (doc_id BIGINT, lang STRING,
        n_chars BIGINT, CONSTRAINT min_len CHECK (n_chars >= 50))""")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .createOrReplaceTempView("a67_src")
      s.sql(s"""INSERT INTO $cat.corpus
        SELECT * FROM a67_src WHERE n_chars >= 50""")
      // The full corpus contains violating rows: the whole batch must
      // fail, landing zero rows (else counts double / sums admit <50).
      try s.sql(s"INSERT INTO $cat.corpus SELECT * FROM a67_src")
      catch { case _: Exception => () }
      s.sql(s"""SELECT lang, count(*) AS n, sum(n_chars) AS sum_chars
        FROM $cat.corpus GROUP BY lang""")
    },

    // GENERATED ALWAYS AS columns (round-16, [[GraftGeneratedColumns]]):
    // the table declares `feat BIGINT GENERATED ALWAYS AS
    // (n_chars * 2 + 1)`; the corpus inserts OMITTING the column and
    // the connector's resolution rule computes it row-by-row inside
    // the write plan (Spark's capability is DDL-acceptance only — the
    // connector owns the values). The stored column is then
    // aggregated back and checked against the oracle COMPUTING THE
    // SAME EXPRESSION from the raw corpus — a rule that failed to
    // fire leaves nulls (sum breaks), a mis-bound reference computes
    // garbage. GeneratedColumnsSpec pins refusal of explicit
    // assignment and the identity-column stand-down.
    QuerySpec(
      "a68_generated_columns",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars * 2 + 1) AS BIGINT) AS sum_feat
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = freshDir("a68", dir)
      val cat = "graft_a68_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.corpus (doc_id BIGINT, lang STRING,
        n_chars BIGINT,
        feat BIGINT GENERATED ALWAYS AS (n_chars * 2 + 1))""")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .createOrReplaceTempView("a68_src")
      s.sql(s"""INSERT INTO $cat.corpus (doc_id, lang, n_chars)
        SELECT doc_id, lang, n_chars FROM a68_src""")
      s.sql(s"""SELECT lang, count(*) AS n, sum(feat) AS sum_feat
        FROM $cat.corpus GROUP BY lang""")
    },

    // IDENTITY columns (round-17, [[graft.sources.GraftIdentity]]):
    // `GENERATED ALWAYS AS IDENTITY` with values allocated at COMMIT
    // time under the publish lock — writers store negative local
    // placeholders, the commit assigns each file's absolute base
    // against the persisted high-water mark, readers resolve through
    // the manifest's idbase. The spec inserts the corpus in TWO
    // single-file sorted batches (evens then odds, each coalesce(1) so
    // minting order is doc_id order within a batch), which makes the
    // assignment a deterministic function the oracle recomputes as
    // row_number() over (parity, doc_id). sum(id * n_chars) pins the
    // PER-ROW binding — a shifted, reused, or unresolved-placeholder
    // id breaks the weighted sum, not just the range. Concurrency,
    // refusal, truncate and compaction semantics are pinned in
    // IdentityColumnsSpec.
    QuerySpec(
      "a69_identity_columns",
      """WITH ranked AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (ORDER BY (doc_id % 2), doc_id) AS id
        |  FROM documents)
        |SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(id) AS BIGINT) AS sum_id,
        |  CAST(max(id) AS BIGINT) AS max_id,
        |  CAST(sum(id * n_chars) AS BIGINT) AS weighted
        |FROM ranked GROUP BY lang""".stripMargin) { (s, dir) =>
      val wh = freshDir("a69", dir)
      val cat = "graft_a69_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.corpus (
        id BIGINT GENERATED ALWAYS AS IDENTITY,
        doc_id BIGINT, lang STRING, n_chars BIGINT)""")
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      // DataFrame appends address the identity column with lit(null) —
      // the analyzer's own omitted-fill value, which the writer mints
      // from. Single sorted file per batch = deterministic assignment.
      def batch(parity: Int): Unit =
        docs.where(col("doc_id") % 2 === parity)
          .orderBy("doc_id").coalesce(1)
          .select(lit(null).cast("bigint").as("id"), col("doc_id"),
            col("lang"), col("n_chars"))
          .writeTo(s"$cat.corpus").append()
      batch(0); batch(1)
      s.sql(s"""SELECT lang, count(*) AS n, sum(id) AS sum_id,
        max(id) AS max_id, sum(id * n_chars) AS weighted
        FROM $cat.corpus GROUP BY lang""")
    },

    // CALL system.zorder (round-17): q182 proved the Morton math and
    // the 2-D skip win as a query-level demo; this spec runs the REAL
    // maintenance procedure — an atomic rewrite laying the table out by
    // the interleaved code, whose per-file min/max boxes feed the
    // existing file/block pruning. Output is the post-rewrite CONTENT
    // aggregated per 16x16 cell against an oracle computed from the raw
    // source: the atomic swap must preserve every row exactly through
    // the layout change (file boundaries themselves are range-sampled
    // and not oracle-stable; the skip-win ratio is pinned
    // deterministically in IngestSpec's zorder test).
    QuerySpec(
      "a70_zorder_procedure",
      """WITH pts AS (
        |  SELECT o_orderkey, o_custkey % 256 AS x,
        |    CAST(floor(o_totalprice) AS BIGINT) % 256 AS y
        |  FROM orders)
        |SELECT x // 16 AS cx, y // 16 AS cy,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM pts GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val wh = freshDir("a70", dir)
      val cat = "graft_a70_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"CREATE TABLE $cat.g (o_orderkey BIGINT, x BIGINT, y BIGINT)")
      Tables.orders(s, dir).select(col("o_orderkey"),
          (col("o_custkey") % 256).as("x"),
          (floor(col("o_totalprice")).cast("long") % 256).as("y"))
        .writeTo(s"$cat.g").append()
      s.sql(s"CALL $cat.system.zorder('g', 'x,y', 8)")
      s.sql(s"""SELECT x div 16 AS cx, y div 16 AS cy,
        count(*) AS n, sum(o_orderkey) AS sum_key
        FROM $cat.g GROUP BY 1, 2""")
    },

    // MERGE INTO ... WITH SCHEMA EVOLUTION (round-17): the first thing
    // a CDC pipeline hits when the upstream adds a field. The target
    // loads the corpus WITHOUT n_chars; a CDC batch carrying the new
    // column merges with the evolution clause (Spark's
    // ResolveMergeIntoSchemaEvolution + GraftCatalog.alterTable), so
    // matched rows update it, unmatched-batch rows insert with it, and
    // pre-evolution rows read it back as null. The oracle recomputes
    // the same three populations from the raw corpus; coalesce(-1)
    // distinguishes genuine nulls from zeros in the hash.
    QuerySpec(
      "a71_merge_schema_evolution",
      """WITH batch AS (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 3 = 0),
        |merged AS (
        |  SELECT d.doc_id, d.lang,
        |    CASE WHEN b.doc_id IS NOT NULL THEN b.n_chars END AS n_chars
        |  FROM documents d LEFT JOIN batch b USING (doc_id)
        |  WHERE d.doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars FROM batch WHERE doc_id % 2 = 1)
        |SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(coalesce(n_chars, -1)) AS BIGINT) AS sum_chars,
        |  CAST(count(n_chars) AS BIGINT) AS with_chars
        |FROM merged GROUP BY lang""".stripMargin) { (s, dir) =>
      val wh = freshDir("a71", dir)
      val cat = "graft_a71_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"CREATE TABLE $cat.corpus (doc_id BIGINT, lang STRING)")
      val docs = Tables.documents(s, dir)
      docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"))
        .writeTo(s"$cat.corpus").append()
      docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .createOrReplaceTempView("a71_batch")
      s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.corpus c
        USING a71_batch b ON c.doc_id = b.doc_id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      s.sql(s"""SELECT lang, count(*) AS n,
        sum(coalesce(n_chars, -1)) AS sum_chars,
        count(n_chars) AS with_chars
        FROM $cat.corpus GROUP BY lang""")
    },

    // Constraints x generated columns x PARQUET kind x STREAMING
    // (round-17): a67/a68 minted both features on the default NDJSON
    // kind via batch writes; this is the composed variant — ONE
    // parquet-kind table carrying an enforced CHECK and a GENERATED
    // ALWAYS column, loaded by a STREAMING epoch sink (where the
    // analyzer plants neither: the writer-side RowGuards enforce and
    // compute), then hit with a violating stream whose epoch must
    // publish NOTHING. The oracle recomputes the surviving population
    // and the generation expression from the raw corpus.
    QuerySpec(
      "a72_guarded_parquet_stream",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars * 2 + 1) AS BIGINT) AS sum_feat
        |FROM documents WHERE n_chars >= 50 GROUP BY lang""".stripMargin) {
      (s, dir) =>
      val wh = freshDir("a72", dir)
      val cat = "graft_a72_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.corpus (doc_id BIGINT, lang STRING,
        n_chars BIGINT,
        feat BIGINT GENERATED ALWAYS AS (n_chars * 2 + 1),
        CONSTRAINT chars_min CHECK (n_chars >= 50))
        TBLPROPERTIES ('filekind'='parquet')""")
      // Streaming source over the documents parquet (the st32 shape):
      // the write is a REAL epoch sink, not a batch in disguise.
      val docSchema = Tables.documents(s, dir).schema
      val docs = s.readStream.schema(docSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          lit(null).cast("bigint").as("feat"))
      def stream(df: DataFrame, ckpt: String): Unit =
        df.writeStream
          .option("checkpointLocation", wh.resolve(ckpt).toString)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"$cat.corpus").awaitTermination()
      // Valid population streams in: the sink computes `feat` per row.
      stream(docs.where(col("n_chars") >= 50), "ckpt_ok")
      // A stream carrying violating rows: the epoch aborts and
      // publishes nothing — counts must not move.
      try stream(docs.where(col("n_chars") < 50), "ckpt_bad")
      catch { case _: Exception => () }
      s.sql(s"""SELECT lang, count(*) AS n, sum(feat) AS sum_feat
        FROM $cat.corpus GROUP BY lang""")
    },

    // MEDALLION pipeline end-to-end (bronze → silver, both manifest
    // tables): bronze accretes in three retained commits; a streaming
    // job TAILS it by generation offset (maxGenerationsPerTrigger=1 —
    // each commit its own micro-batch), applies the silver filter, and
    // lands in a second manifest table through the epoch-idempotent
    // streaming sink; the batch scan of SILVER is the spec result. One
    // oracle covers the whole chain — batch write → incremental read →
    // transform → streaming write → batch read — so a row dropped,
    // re-delivered, or mis-framed at ANY hop breaks the hash.
    QuerySpec(
      "st29_medallion_pipeline",
      """SELECT event_type, count(*)::BIGINT AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_c
        |FROM events WHERE floor(value * 100 + 0.5) >= 25
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val base = freshDir("st29", dir)
      val bronze = base.resolve("bronze").toString
      val silver = base.resolve("silver").toString
      val ev = Tables.events(s, dir).select(col("event_id"),
        col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("val_c"))
      (0 to 2).foreach { k =>
        ev.where(col("event_id") % 3 === k).coalesce(2)
          .write.format("graft.sources.ManifestSink")
          .option("path", bronze).option("retainHistory", "true")
          .mode(if (k == 0) "overwrite" else "append").save()
      }
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("val_c", LongType)))
      val q = s.readStream.format("graft.sources.ManifestSink")
        .schema(schema).option("path", bronze)
        .option("maxGenerationsPerTrigger", "1").load()
        .where(col("val_c") >= 25)
        .writeStream.format("graft.sources.ManifestSink")
        .option("path", silver)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.format("graft.sources.ManifestSink")
        .schema(schema).option("path", silver).load()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("val_c")).as("sum_c"))
    },

    // STORAGE-PARTITIONED JOIN (the Iceberg SPJ story): documents and a
    // per-language dimension land as TWO manifest tables partitioned by
    // lang — every file provably single-language (min == max bounds,
    // zero null counts), so both scans report KeyGroupedPartitioning
    // and the equi-join runs WITHOUT a shuffle on either side
    // (IngestSpec pins the plan: no Exchange hashpartitioning). The
    // oracle replays the join relationally — a row matched to the wrong
    // partition's dimension or dropped by the grouping breaks the
    // hashes.
    QuerySpec(
      "a22_storage_partitioned_join",
      """WITH dims AS (
        |  SELECT lang, count(*)::BIGINT AS lang_docs FROM documents GROUP BY 1)
        |SELECT d.lang, m.lang_docs, count(*)::BIGINT AS n,
        |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
        |FROM documents d JOIN dims m ON d.lang = m.lang
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val out = freshDir("a22", dir)
      val facts = out.resolve("facts").toString
      val dims = out.resolve("dims").toString
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      docs.repartition(col("lang"))
        .write.format("graft.sources.ManifestSink")
        .option("path", facts).option("partitionBy", "lang")
        .mode("overwrite").save()
      docs.groupBy("lang").agg(count(lit(1)).as("lang_docs"))
        .repartition(col("lang"))
        .write.format("graft.sources.ManifestSink")
        .option("path", dims).option("partitionBy", "lang")
        .mode("overwrite").save()
      val factsSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType)))
      val dimsSchema = StructType(Seq(
        StructField("lang", StringType), StructField("lang_docs", LongType)))
      // The path-based reader has no catalog partition declaration, so
      // the partition columns ride a read option via getTable's
      // transforms — exercised here through the catalog-free route.
      val f = s.read.format("graft.sources.ManifestSink")
        .schema(factsSchema).option("path", facts)
        .option("partitionBy", "lang").load()
      val m = s.read.format("graft.sources.ManifestSink")
        .schema(dimsSchema).option("path", dims)
        .option("partitionBy", "lang").load()
      f.join(m, "lang")
        .groupBy("lang", "lang_docs")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
    },

    // BUCKET-partitioned tables (bucket(n, col) transforms — the
    // Iceberg bucket layout): the corpus is written with
    // partitionBy=bucket(4,doc_id), each file carrying its EXPLICIT
    // bucket id in the manifest (a hash bucket is not derivable from
    // column bounds), so point/IN lookups plan only the matching
    // bucket's files and two same-bucketed tables storage-partition
    // join (both plan-pinned in IngestSpec). The oracle replays the
    // full aggregate AND an IN-subset against the source: a row routed
    // to the wrong bucket or a bucket wrongly pruned breaks either arm.
    QuerySpec(
      "a23_bucketed_tables",
      """SELECT * FROM (
        |  SELECT 'all' AS arm, lang, count(*)::BIGINT AS n,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY 2
        |  UNION ALL
        |  SELECT 'point', lang, count(*)::BIGINT,
        |    CAST(sum(n_chars) AS BIGINT)
        |  FROM documents WHERE doc_id IN (3, 17, 42, 77) GROUP BY 2)""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val out = freshDir("a23", dir).toString
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.format("graft.sources.ManifestSink")
        .option("path", out).option("partitionBy", "bucket(4,doc_id)")
        .mode("overwrite").save()
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType)))
      def read = s.read.format("graft.sources.ManifestSink")
        .schema(schema).option("path", out)
        .option("partitionBy", "bucket(4,doc_id)").load()
      read.groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .select(lit("all").as("arm"), col("lang"), col("n"), col("sum_chars"))
        .unionAll(read.where(col("doc_id").isin(3L, 17L, 42L, 77L))
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
          .select(lit("point").as("arm"), col("lang"), col("n"),
            col("sum_chars")))
    },

    // SQL MERGE INTO through SupportsRowLevelOperations (the Delta/
    // Iceberg front door): the corpus lands as a range-partitioned
    // catalog table, a CDC source table carries updates (every 5th doc)
    // and inserts (new ids), and `MERGE INTO ... WHEN MATCHED ... WHEN
    // NOT MATCHED` runs through Spark's group-based copy-on-write
    // rewrite — the ON condition references source values, so nothing
    // is statically pushable and the RUNTIME group filter (a
    // `_file`-projecting subquery) must narrow the rewrite to the
    // key-overlapping files (IngestSpec pins 1-of-4 at file level).
    // The oracle replays the merge relationally: a row lost in the
    // rewrite, doubled across the swap, or merged against stale keys
    // breaks the per-lang counts and content hashes.
    QuerySpec(
      "a24_sql_merge_into",
      """WITH merged AS (
        |  SELECT doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT doc_id, text || '~m', lang, source, n_chars + 2
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, 'merged doc ' || doc_id, 'xx',
        |    source, 11 + length(CAST(doc_id AS VARCHAR))
        |  FROM documents WHERE doc_id % 9 = 0)
        |SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM merged GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = freshDir("a24", dir)
      val cat = "graft_a24"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.docs")
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, text STRING,
        lang STRING, source STRING, n_chars BIGINT)""")
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      docs.repartitionByRange(4, col("doc_id"))
        .createOrReplaceTempView("a24_src")
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a24_src")
      docs.where(col("doc_id") % 5 === 0)
        .withColumn("text", concat(col("text"), lit("~m")))
        .withColumn("n_chars", col("n_chars") + 2)
        .unionByName(docs.where(col("doc_id") % 9 === 0).select(
          (col("doc_id") + 2000000L).as("doc_id"),
          concat(lit("merged doc "), col("doc_id")).as("text"),
          lit("xx").as("lang"), col("source"),
          (lit(11) + length(col("doc_id").cast("string"))
            .cast("long")).as("n_chars")))
        .createOrReplaceTempView("a24_updates")
      s.sql(s"""MERGE INTO $cat.docs t USING a24_updates u
        ON t.doc_id = u.doc_id
        WHEN MATCHED THEN UPDATE SET
          text = u.text, lang = u.lang, source = u.source,
          n_chars = u.n_chars
        WHEN NOT MATCHED THEN INSERT *""")
      s.sql(s"""SELECT lang, count(*) AS n,
        sum(n_chars) AS sum_chars,
        sum(cast(conv(substr(md5(cast(text AS BINARY)), 1, 8), 16, 10)
          AS BIGINT)) AS text_hash
        FROM $cat.docs GROUP BY lang""")
    },

    // SQL UPDATE through the same group-based rewrite: the predicate
    // is a doc_id range the manifest stats CAN push, so the scan plans
    // only the files whose bounds overlap — the rest of the table is
    // never read or rewritten. The oracle applies the SET relationally
    // over the whole corpus; an update leaking outside the predicate,
    // missing inside it, or dropping untouched rows in the rewritten
    // files breaks the hashes.
    QuerySpec(
      "a25_sql_update_rewrite",
      """WITH updated AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id >= 100 AND doc_id < 200
        |         THEN text || '~upd' ELSE text END AS text,
        |    lang, source,
        |    CASE WHEN doc_id >= 100 AND doc_id < 200
        |         THEN n_chars + 5 ELSE n_chars END AS n_chars
        |  FROM documents)
        |SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM updated GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = freshDir("a25", dir)
      val cat = "graft_a25"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.docs")
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, text STRING,
        lang STRING, source STRING, n_chars BIGINT)""")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .repartitionByRange(4, col("doc_id"))
        .createOrReplaceTempView("a25_src")
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a25_src")
      s.sql(s"""UPDATE $cat.docs
        SET text = concat(text, '~upd'), n_chars = n_chars + 5
        WHERE doc_id >= 100 AND doc_id < 200""")
      s.sql(s"""SELECT lang, count(*) AS n,
        sum(n_chars) AS sum_chars,
        sum(cast(conv(substr(md5(cast(text AS BINARY)), 1, 8), 16, 10)
          AS BIGINT)) AS text_hash
        FROM $cat.docs GROUP BY lang""")
    },

    // SQL DELETE needing a DATA REWRITE (the partial-overlap case the
    // metadata-only path refuses): `doc_id % 3 = 0 AND lang = 'en'` —
    // the lang half prunes statically, the modulo half cannot, so the
    // runtime group filter finds the files actually holding matching
    // rows and only they rewrite (survivor rows carried over). The
    // oracle selects the complement; a surviving matched row, a lost
    // survivor, or a whole file wrongly dropped breaks the hashes.
    QuerySpec(
      "a26_sql_delete_rewrite",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM documents
        |WHERE NOT (doc_id % 3 = 0 AND lang = 'en')
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = freshDir("a26", dir)
      val cat = "graft_a26"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.docs")
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, text STRING,
        lang STRING, source STRING, n_chars BIGINT)""")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .repartitionByRange(4, col("doc_id"))
        .createOrReplaceTempView("a26_src")
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a26_src")
      s.sql(s"DELETE FROM $cat.docs WHERE doc_id % 3 = 0 AND lang = 'en'")
      s.sql(s"""SELECT lang, count(*) AS n,
        sum(n_chars) AS sum_chars,
        sum(cast(conv(substr(md5(cast(text AS BINARY)), 1, 8), 16, 10)
          AS BIGINT)) AS text_hash
        FROM $cat.docs GROUP BY lang""")
    },

    // MERGE-ON-READ DELETE (deletion vectors, the Iceberg positional-
    // delete / Delta-DV shape): the table opts in via TBLPROPERTIES
    // ('deletionVectors'='true'), so a partial-overlap SQL DELETE
    // writes a tiny sidecar of deleted (file, byte-offset) positions
    // instead of rewriting files — IngestSpec pins the data files
    // byte-identical. Two overlapping deletes exercise the cumulative
    // vector merge; every later scan applies the final vector. Oracle:
    // the complement of both predicates — merge-on-read and
    // copy-on-write must be observationally equivalent.
    QuerySpec(
      "a27_deletion_vectors",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM documents
        |WHERE NOT (doc_id % 3 = 0 AND lang = 'en')
        |  AND NOT (doc_id % 7 = 2 AND n_chars > 100)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = freshDir("a27", dir)
      val cat = "graft_a27"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.docs")
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, text STRING,
        lang STRING, source STRING, n_chars BIGINT)
        TBLPROPERTIES ('deletionVectors'='true')""")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .repartitionByRange(4, col("doc_id"))
        .createOrReplaceTempView("a27_src")
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a27_src")
      s.sql(s"DELETE FROM $cat.docs WHERE doc_id % 3 = 0 AND lang = 'en'")
      s.sql(s"DELETE FROM $cat.docs WHERE doc_id % 7 = 2 AND n_chars > 100")
      s.sql(s"""SELECT lang, count(*) AS n,
        sum(n_chars) AS sum_chars,
        sum(cast(conv(substr(md5(cast(text AS BINARY)), 1, 8), 16, 10)
          AS BIGINT)) AS text_hash
        FROM $cat.docs GROUP BY lang""")
    },

    // `table_changes` TVF — the SQL front door to the batch change
    // feed (the startingVersion/endingVersion read options, injected as
    // a session table-valued function via SparkSessionExtensions, the
    // Delta spelling): corpus lands (gen 1), a merge-on-read DELETE
    // writes a deletion vector (gen 2), late rows append (gen 3), and
    // plain SQL replays the (1, current] window — deleted rows as
    // `_change_type='delete'` (the DV delta, emitted without re-reading
    // live rows), appended rows as 'insert'. Oracle recomputes both
    // legs from the predicates.
    QuerySpec(
      "a28_sql_table_changes",
      """WITH changes AS (
        |  SELECT 'delete' AS _change_type, lang, n_chars, text
        |  FROM documents WHERE doc_id % 11 = 3
        |  UNION ALL
        |  SELECT 'insert', 'xx', length('late doc ' || doc_id),
        |    'late doc ' || doc_id
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT _change_type, lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM changes GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val wh = freshDir("a28", dir)
      // Catalog instances are CACHED BY NAME per session (a reused name
      // with a re-set base conf keeps the OLD base) — this spec resolves
      // the table both through the catalog AND through the conf-reading
      // TVF, so the name must be unique per warehouse dir.
      val cat = "graft_a28_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.docs")
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, text STRING,
        lang STRING, source STRING, n_chars BIGINT)
        TBLPROPERTIES ('deletionVectors'='true', 'retainHistory'='true')""")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .repartitionByRange(4, col("doc_id"))
        .createOrReplaceTempView("a28_src")
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a28_src") // gen 1
      s.sql(s"DELETE FROM $cat.docs WHERE doc_id % 11 = 3") // gen 2 (DV)
      s.sql(s"""INSERT INTO $cat.docs
        SELECT doc_id + 3000000, concat('late doc ', doc_id), 'xx',
          source, length(concat('late doc ', doc_id))
        FROM a28_src WHERE doc_id % 13 = 0""") // gen 3
      s.sql(s"""SELECT _change_type, lang, count(*) AS n,
        sum(n_chars) AS sum_chars,
        sum(cast(conv(substr(md5(cast(text AS BINARY)), 1, 8), 16, 10)
          AS BIGINT)) AS text_hash
        FROM table_changes('$cat.docs', 1)
        GROUP BY _change_type, lang""")
    },

    // ORC round-trip (the second columnar format Spark ships natively):
    // the corpus lands as partitioned ORC, reads back through the ORC
    // reader with predicate pushdown + partition pruning, and the
    // aggregate must match the parquet-derived oracle exactly — format
    // portability of the exact-integer discipline, plus the escape
    // hatch a real lakehouse needs when upstream systems emit ORC.
    QuerySpec(
      "a35_orc_roundtrip",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM documents WHERE n_chars >= 10
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val out = freshDir("a35", dir).resolve("docs_orc").toString
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
        .write.partitionBy("lang").mode("overwrite").orc(out)
      s.read.orc(out)
        .where(col("n_chars") >= 10)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("text_hash"))
    },

    // PARTITION-SPEC EVOLUTION (Iceberg's ALTER ... PARTITION FIELD):
    // era 1 of the corpus lands under identity(lang), the spec evolves
    // to bucket(4,doc_id) — METADATA ONLY, zero file rewrites — and
    // era 2 lands under the new spec. The final read spans both eras
    // with a language filter: era-1 files prune via their min == max
    // lang bounds, era-2 files via their recorded bucket ids on doc_id
    // point-lookups (pinned in IngestSpec; at 100 TB this is the
    // difference between evolving a table's layout and rewriting it
    // wholesale). The oracle replays the same predicate against the
    // source table, so a row mis-routed at write, lost in the
    // evolution, or double-read across eras breaks counts and hashes.
    QuerySpec(
      "a36_partition_evolution",
      """SELECT lang, source, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM documents WHERE lang IN ('en', 'zh')
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val wh = freshDir("a36", dir)
      val cat = "graft_a36_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.docs")
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, text STRING,
        lang STRING, source STRING, n_chars BIGINT)
        PARTITIONED BY (lang)""")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .createOrReplaceTempView("a36_src")
      // Era 1 (identity(lang)): clustered by the partition column.
      s.sql(s"""INSERT INTO $cat.docs
        SELECT /*+ REPARTITION(lang) */ * FROM a36_src
        WHERE doc_id % 2 = 0""")
      s.sql(s"CALL $cat.system.replace_partition_spec('docs', 'bucket(4,doc_id)')")
      // Era 2 (bucket(4,doc_id)): the writer routes rows per bucket.
      s.sql(s"""INSERT INTO $cat.docs
        SELECT /*+ COALESCE(2) */ * FROM a36_src
        WHERE doc_id % 2 = 1""")
      s.sql(s"""SELECT lang, source, count(*) AS n,
        sum(n_chars) AS sum_chars,
        sum(cast(conv(substr(md5(cast(text AS BINARY)), 1, 8), 16, 10)
          AS BIGINT)) AS text_hash
        FROM $cat.docs WHERE lang IN ('en', 'zh')
        GROUP BY lang, source""")
    },

    // EQUALITY DELETES (Iceberg's equality-delete files — the
    // streaming-CDC delete shape): the corpus lands, a tombstone batch
    // commits as a small KEY FILE with ZERO target scan (O(tombstones),
    // pinned in IngestSpec by hiding the data files during the commit),
    // and a later re-insert of some tombstoned keys SURVIVES (the
    // per-file commit-seq rule — the CDC upsert semantics). The final
    // read applies the tombstones at scan time; the oracle replays
    // delete-then-reinsert relationally, so a key wrongly deleted,
    // wrongly surviving, or a re-insert wrongly suppressed breaks the
    // per-language counts and content hashes.
    QuerySpec(
      "a37_equality_deletes",
      """WITH survivors AS (
        |  SELECT doc_id, text, lang, n_chars FROM documents
        |  WHERE doc_id % 11 <> 3
        |  UNION ALL
        |  SELECT doc_id, 're: ' || text AS text, lang, n_chars + 4 AS n_chars
        |  FROM documents WHERE doc_id % 33 = 3
        |)
        |SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM survivors GROUP BY 1""".stripMargin) { (s, dir) =>
      val out = freshDir("a37", dir).resolve("docs").toString
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
        .write.format("graft.sources.ManifestSink")
        .option("path", out).mode("overwrite").save() // gen 1
      // The CDC tombstone burst: keys only, no table scan.
      graft.sources.ManifestOps.equalityDelete(out,
        Tables.documents(s, dir).where(col("doc_id") % 11 === 3)
          .select(col("doc_id")))                      // gen 2
      // The CDC re-insert: a subset of the tombstoned keys comes back
      // with new content — must survive (its commit seq is newer).
      Tables.documents(s, dir).where(col("doc_id") % 33 === 3)
        .select(col("doc_id"), concat(lit("re: "), col("text")).as("text"),
          col("lang"), (col("n_chars") + 4).as("n_chars"))
        .write.format("graft.sources.ManifestSink")
        .option("path", out).mode("append").save()     // gen 3
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("n_chars", LongType)))
      s.read.format("graft.sources.ManifestSink")
        .schema(schema).option("path", out).load()
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("text_hash"))
    },

    // CATALOG VIEWS (the V2 ViewCatalog + the session-extension wiring
    // OSS Spark lacks): a view DEFINITION persists in the catalog
    // (`_view.json`), and the read substitutes the re-parsed SQL —
    // late-bound, so rows appended AFTER CREATE VIEW are visible
    // through it (pinned here: the view is created after era 1, read
    // after era 2, and the oracle covers BOTH eras). Views compose
    // with views (the second view reads the first).
    QuerySpec(
      "a38_catalog_views",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM documents WHERE n_chars >= 30 AND lang <> 'de'
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = freshDir("a38", dir)
      val cat = "graft_a38_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.docs")
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, text STRING,
        lang STRING, n_chars BIGINT)""")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
        .createOrReplaceTempView("a38_src")
      s.sql(s"""INSERT INTO $cat.docs
        SELECT * FROM a38_src WHERE doc_id % 2 = 0""") // era 1
      s.sql(s"DROP VIEW IF EXISTS $cat.longdocs")
      s.sql(s"DROP VIEW IF EXISTS $cat.longdocs_nonde")
      s.sql(s"""CREATE VIEW $cat.longdocs AS
        SELECT doc_id, text, lang, n_chars FROM $cat.docs
        WHERE n_chars >= 30""")
      // View over view: the reader substitutes both definitions.
      s.sql(s"""CREATE VIEW $cat.longdocs_nonde AS
        SELECT * FROM $cat.longdocs WHERE lang <> 'de'""")
      s.sql(s"""INSERT INTO $cat.docs
        SELECT * FROM a38_src WHERE doc_id % 2 = 1""") // era 2, post-CREATE
      s.sql(s"""SELECT lang, count(*) AS n, sum(n_chars) AS sum_chars,
        sum(cast(conv(substr(md5(cast(text AS BINARY)), 1, 8), 16, 10)
          AS BIGINT)) AS text_hash
        FROM $cat.longdocs_nonde GROUP BY lang""")
    },

    // INCREMENTAL MATERIALIZED VIEW (the IVM algebra q176/q88 prove,
    // promoted to a catalog object): the MV table is a LOG OF PARTIALS
    // (sum_p, cnt_p per group) and the catalog VIEW folds them —
    // sum/count are monoids, so the fold equals the full recompute
    // EXACTLY regardless of refresh granularity. REFRESH reads only
    // the base table's generation delta (O(delta), pinned in
    // IngestSpec by hiding the pre-delta files) and appends one
    // partial batch. The oracle recomputes from scratch — a delta
    // double-counted, missed, or mis-grouped breaks the exact
    // integer sums.
    QuerySpec(
      "a39_incremental_mv",
      """SELECT lang, CAST(sum(n_chars) AS BIGINT) AS sum_v,
        |  count(n_chars)::BIGINT AS cnt_v,
        |  CAST(sum(n_chars) // count(n_chars) AS BIGINT) AS avg_v
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = freshDir("a39", dir)
      val cat = "graft_a39_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.docs")
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, lang STRING,
        n_chars BIGINT) TBLPROPERTIES ('retainHistory'='true')""")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .createOrReplaceTempView("a39_src")
      s.sql(s"""INSERT INTO $cat.docs
        SELECT * FROM a39_src WHERE doc_id % 3 = 0""") // gen 1
      graft.sources.MaterializedViews.createAvg(s, cat, "lang_stats",
        "docs", "docs_mv", "lang", "n_chars")
      // Two more base commits, two refreshes — each folds one delta.
      s.sql(s"""INSERT INTO $cat.docs
        SELECT * FROM a39_src WHERE doc_id % 3 = 1""") // gen 2
      graft.sources.MaterializedViews.refresh(s, cat, "docs_mv")
      s.sql(s"""INSERT INTO $cat.docs
        SELECT * FROM a39_src WHERE doc_id % 3 = 2""") // gen 3
      graft.sources.MaterializedViews.refresh(s, cat, "docs_mv")
      s.sql(s"SELECT lang, sum_v, cnt_v, avg_v FROM $cat.lang_stats")
    },

    // SORTED SCANS (SupportsReportOrdering): tables written with a
    // declared `sortby` stamp the physical order on every manifest
    // entry, the scan reports it back, and a sort-merge join over
    // co-partitioned tables plans with NO exchange AND NO sort (the
    // IngestSpec pin asserts the plan; this spec oracles the RESULT of
    // exactly that plan — the rows a zero-shuffle zero-sort join
    // produces must hash-match the relational join). Eagerly
    // materialized inside the spec so the SPJ/no-broadcast confs
    // restore before the next spec runs.
    QuerySpec(
      "a43_sorted_merge_join",
      """WITH a AS (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 3 = 0
        |), b AS (
        |  SELECT lang, count(*) AS lang_total FROM documents GROUP BY lang
        |)
        |SELECT a.lang, count(*)::BIGINT AS n,
        |  CAST(sum(a.n_chars) AS BIGINT) AS sum_chars,
        |  CAST(max(b.lang_total) AS BIGINT) AS lang_total
        |FROM a JOIN b ON a.lang = b.lang
        |GROUP BY a.lang""".stripMargin) { (s, dir) =>
      val wh = freshDir("a43", dir)
      val cat = "graft_a43_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.facts (doc_id BIGINT, lang STRING,
        n_chars BIGINT) PARTITIONED BY (lang)
        TBLPROPERTIES ('sortby'='lang')""")
      s.sql(s"""CREATE TABLE $cat.dims (lang STRING, lang_total BIGINT)
        PARTITIONED BY (lang) TBLPROPERTIES ('sortby'='lang')""")
      Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        col("n_chars")).createOrReplaceTempView("a43_src")
      s.sql(s"""INSERT INTO $cat.facts
        SELECT doc_id, lang, n_chars FROM a43_src WHERE doc_id % 3 = 0
        DISTRIBUTE BY lang""")
      s.sql(s"""INSERT INTO $cat.dims
        SELECT lang, count(*) FROM a43_src GROUP BY lang
        DISTRIBUTE BY lang""")
      val prevB = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        val out = s.sql(s"""SELECT f.lang, count(*) AS n,
            sum(f.n_chars) AS sum_chars, max(d.lang_total) AS lang_total
          FROM $cat.facts f JOIN $cat.dims d ON f.lang = d.lang
          GROUP BY f.lang""")
        // Materialize NOW, under the SPJ confs, so the zero-shuffle
        // zero-sort plan is what actually produced the checked rows.
        val rows = out.collect().toSeq
        s.createDataFrame(
          s.sparkContext.parallelize(rows, 1), out.schema)
      } finally {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
        s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    },

    // AGGREGATE PUSHDOWN (SupportsPushDownAggregates): count(*) /
    // count(c) / min(c) / max(c) with no WHERE answer from MANIFEST
    // STATS — zero data bytes read (IngestSpec pins this by HIDING
    // every data file during the query). count(*) stays exact under
    // deletion vectors (live = rows − dvRows); the table here takes a
    // DV delete first so the pushed count proves that path. The oracle
    // replays the delete relationally; any stand-down condition
    // (filters, eq-deletes, NaN, strings) falls back to the normal
    // scan — also exercised here by a filtered twin column.
    QuerySpec(
      "a42_agg_pushdown",
      """WITH live AS (
        |  SELECT doc_id, n_chars FROM documents WHERE doc_id % 7 <> 2
        |)
        |SELECT count(*)::BIGINT AS n_rows,
        |  (SELECT count(*)::BIGINT FROM documents) AS n_before,
        |  (SELECT CAST(min(doc_id) AS BIGINT) FROM documents) AS min_id,
        |  (SELECT CAST(max(n_chars) AS BIGINT) FROM documents) AS max_chars,
        |  (SELECT count(n_chars)::BIGINT FROM documents) AS n_chars_cnt,
        |  (SELECT count(*)::BIGINT FROM documents WHERE doc_id < 100)
        |    AS n_filtered
        |FROM live""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val base = freshDir("a42", dir)
      val plain = base.resolve("plain").toString
      val mor = base.resolve("mor").toString
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("n_chars", LongType)))
      // Plain table: min/max/count(col) push (no vectors anywhere).
      docs.repartitionByRange(4, col("doc_id"))
        .write.format("graft.sources.ManifestSink")
        .option("path", plain).mode("overwrite").save()
      // MoR table: a DV delete, then count(*) pushes over liveRows.
      val cat = "graft_a42_" + (base.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.mor")
      s.sql(s"""CREATE TABLE $cat.mor (doc_id BIGINT, n_chars BIGINT)
        TBLPROPERTIES ('deletionVectors'='true')""")
      docs.createOrReplaceTempView("a42_src")
      s.sql(s"INSERT INTO $cat.mor SELECT * FROM a42_src")
      s.sql(s"DELETE FROM $cat.mor WHERE doc_id % 7 = 2")
      def rd(p: String) = s.read.format("graft.sources.ManifestSink")
        .schema(schema).option("path", p).load()
      rd(mor).agg(count(lit(1)).as("n_rows"))
        .crossJoin(broadcast(rd(plain).agg(count(lit(1)).as("n_before"))))
        .crossJoin(broadcast(rd(plain).agg(min(col("doc_id")).as("min_id"))))
        .crossJoin(broadcast(
          rd(plain).agg(max(col("n_chars")).as("max_chars"))))
        .crossJoin(broadcast(
          rd(plain).agg(count(col("n_chars")).as("n_chars_cnt"))))
        .crossJoin(broadcast(rd(plain).where(col("doc_id") < 100)
          .agg(count(lit(1)).as("n_filtered")))) // stand-down path
    },

    // TOP-K INCREMENTAL MV (the second MV shape — q138's top-k algebra
    // promoted to a catalog object): the MV table is the per-(group,
    // key) COUNT log (counts are monoids, so folding refresh batches is
    // exact), and the view ranks the folded counts and cuts at k AT
    // READ — which is what keeps a key that drops out of (or re-enters)
    // the top k correct across refreshes. Refresh is O(delta); the
    // oracle recomputes the top-3 from scratch over the full corpus, so
    // a count mis-folded or a rank boundary mis-cut breaks the rows.
    QuerySpec(
      "a41_topk_mv",
      """WITH c AS (
        |  SELECT source, lang, count(*) AS cnt
        |  FROM documents GROUP BY 1, 2
        |), r AS (
        |  SELECT source, lang, cnt,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY cnt DESC, lang) AS rnk
        |  FROM c)
        |SELECT source, lang, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      val wh = freshDir("a41", dir)
      val cat = "graft_a41_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.docs")
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, source STRING,
        lang STRING) TBLPROPERTIES ('retainHistory'='true')""")
      Tables.documents(s, dir).select(col("doc_id"), col("source"), col("lang"))
        .createOrReplaceTempView("a41_src")
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a41_src WHERE doc_id % 3 = 0")
      graft.sources.MaterializedViews.createTopK(s, cat, "top_langs",
        "docs", "docs_topk_mv", "source", "lang", 3)
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a41_src WHERE doc_id % 3 = 1")
      graft.sources.MaterializedViews.refresh(s, cat, "docs_topk_mv")
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a41_src WHERE doc_id % 3 = 2")
      graft.sources.MaterializedViews.refresh(s, cat, "docs_topk_mv")
      s.sql(s"SELECT source, lang, cnt, rnk FROM $cat.top_langs")
    },

    // MIN/MAX INCREMENTAL MV (the third MV shape): min/max are monoids
    // UNDER APPEND-ONLY, so the partial log folds exactly — and the
    // refresh machinery already enforces append-only (the plain
    // incremental delta read fails loudly on retirements, DV changes,
    // or equality-delete commits — the a42-style sound-or-stand-down
    // posture). The O(delta) claim is PINNED INSIDE the spec: every
    // pre-delta base file is hidden during the second refresh — a
    // refresh that read anything but the delta would throw. Oracle
    // recomputes min/max from scratch over the full corpus.
    QuerySpec(
      "a44_minmax_mv",
      """SELECT lang, CAST(min(n_chars) AS BIGINT) AS min_v,
        |  CAST(max(n_chars) AS BIGINT) AS max_v
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = freshDir("a44", dir)
      val cat = "graft_a44_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.docs")
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, lang STRING,
        n_chars BIGINT) TBLPROPERTIES ('retainHistory'='true')""")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .createOrReplaceTempView("a44_src")
      s.sql(s"""INSERT INTO $cat.docs
        SELECT * FROM a44_src WHERE doc_id % 3 = 0""") // gen 1
      graft.sources.MaterializedViews.createMinMax(s, cat, "lang_range",
        "docs", "docs_mm_mv", "lang", "n_chars")
      s.sql(s"""INSERT INTO $cat.docs
        SELECT * FROM a44_src WHERE doc_id % 3 = 1""") // gen 2
      graft.sources.MaterializedViews.refresh(s, cat, "docs_mm_mv")
      val baseDir = wh.resolve("docs")
      val preDelta = graft.sources.ManifestSink.committedFiles(
        baseDir.toString)
      s.sql(s"""INSERT INTO $cat.docs
        SELECT * FROM a44_src WHERE doc_id % 3 = 2""") // gen 3
      // THE O(delta) PIN: refresh with every pre-gen-3 file hidden.
      import java.nio.file.Files
      preDelta.foreach(n => Files.move(baseDir.resolve(n),
        baseDir.resolve(n + ".hidden")))
      try graft.sources.MaterializedViews.refresh(s, cat, "docs_mm_mv")
      finally preDelta.foreach(n => Files.move(baseDir.resolve(n + ".hidden"),
        baseDir.resolve(n)))
      s.sql(s"SELECT lang, min_v, max_v FROM $cat.lang_range")
    },

    // STAR-JOIN INCREMENTAL MV (the fourth MV shape — fact ⋈ dim,
    // aggregated by a dim attribute): partials key by the fact's DIM
    // FK (the one key appends always fold on) and the view joins the
    // dim AT READ — the dim side is late-bound, so a dim attribute
    // update needs NO partial invalidation; the fold-then-join equals
    // join-then-fold because the join is N:1 on the dim key. Refresh
    // is the plain O(delta) fact fold. Oracle: the relational
    // join-group-aggregate over the full corpus — a mis-keyed partial
    // or a double-folded delta breaks the exact integer sums.
    QuerySpec(
      "a45_join_mv",
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_v,
        |  count(o_orderkey)::BIGINT AS cnt_v,
        |  CAST(sum(o_orderkey) // count(o_orderkey) AS BIGINT) AS avg_v
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = freshDir("a45", dir)
      val cat = "graft_a45_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.fact_orders")
      s.sql(s"""CREATE TABLE $cat.fact_orders (o_orderkey BIGINT,
        o_custkey BIGINT) TBLPROPERTIES ('retainHistory'='true')""")
      s.sql(s"DROP TABLE IF EXISTS $cat.dim_customer")
      s.sql(s"CREATE TABLE $cat.dim_customer (c_custkey BIGINT, c_nationkey BIGINT)")
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
        .createOrReplaceTempView("a45_fact")
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").cast("long"))
        .toDF("c_custkey", "c_nationkey")
        .createOrReplaceTempView("a45_dim")
      s.sql(s"INSERT INTO $cat.dim_customer SELECT * FROM a45_dim")
      s.sql(s"""INSERT INTO $cat.fact_orders
        SELECT * FROM a45_fact WHERE o_orderkey % 2 = 0""") // gen 1
      graft.sources.MaterializedViews.createJoinAgg(s, cat, "nation_rev",
        "fact_orders", "dim_customer", "orders_by_cust_mv",
        "o_custkey", "c_custkey", "c_nationkey", "o_orderkey")
      s.sql(s"""INSERT INTO $cat.fact_orders
        SELECT * FROM a45_fact WHERE o_orderkey % 2 = 1""") // gen 2
      graft.sources.MaterializedViews.refresh(s, cat, "orders_by_cust_mv")
      s.sql(s"""SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        sum_v, cnt_v, avg_v FROM $cat.nation_rev""")
    },

    // STREAMING SORT STAMPING (a43's sorted scans reaching the
    // medallion): the facts table is written BY A STREAM — the epoch
    // writer verifies and stamps `sorted` on its per-tuple files, so a
    // streamed-in silver table joins SORT-FREE exactly like a
    // batch-written one (IngestSpec pins the plan: SMJ, zero exchange,
    // zero sort; this spec oracles the RESULT of that plan). Before
    // this, every medallion silver join re-paid the SMJ sort forever.
    QuerySpec(
      "a48_stream_sorted_join",
      """WITH f AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS val_c
        |  FROM events
        |), d AS (
        |  SELECT event_type, count(*) AS total FROM events GROUP BY 1
        |)
        |SELECT f.event_type, count(*)::BIGINT AS n,
        |  CAST(sum(f.val_c) AS BIGINT) AS sum_c,
        |  CAST(max(d.total) AS BIGINT) AS total
        |FROM f JOIN d ON f.event_type = d.event_type
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val base = freshDir("a48", dir)
      val cat = "graft_a48_" + (base.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"""CREATE TABLE $cat.facts (event_type STRING, val_c BIGINT)
        PARTITIONED BY (event_type) TBLPROPERTIES ('sortby'='event_type')""")
      s.sql(s"""CREATE TABLE $cat.dims (event_type STRING, total BIGINT)
        PARTITIONED BY (event_type) TBLPROPERTIES ('sortby'='event_type')""")
      // Facts arrive BY STREAM (AvailableNow drain); one task per epoch
      // keeps one file per partition tuple, each stamped sorted.
      val q = graft.streaming.Streams.eventsStream(s, dir)
        .select(col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("val_c"))
        .coalesce(1)
        .writeStream
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"$cat.facts")
      q.awaitTermination()
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("total"))
        .createOrReplaceTempView("a48_dims")
      s.sql(s"""INSERT INTO $cat.dims SELECT * FROM a48_dims
        DISTRIBUTE BY event_type""")
      val prevB = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        val out = s.sql(s"""SELECT f.event_type, count(*) AS n,
            sum(f.val_c) AS sum_c, max(d.total) AS total
          FROM $cat.facts f JOIN $cat.dims d
            ON f.event_type = d.event_type
          GROUP BY f.event_type""")
        // Materialize under the SPJ confs — the zero-shuffle zero-sort
        // plan is what produced the checked rows.
        val rows = out.collect().toSeq
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
      } finally {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
        s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    },

    // BLOOM-INDEX FILE SKIPPING ([[BloomIndex]]): per-file bloom
    // sidecars over a declared column prune =/IN point lookups that
    // min/max bounds cannot — hash-distributed ids interleave, so
    // every file's [min, max] spans the domain and only the bloom can
    // prove a key absent. This spec oracles the RESULT of exactly
    // that bloom-pruned plan; BloomIndexSpec pins the files-read
    // metric (1 of N for a single key, 0 for a miss), the unindexed
    // negative control, and sidecar vacuum-reachability.
    QuerySpec(
      "a49_bloom_point_lookup",
      """SELECT count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents
        |WHERE doc_id IN (3, 57, 4001, 999999123)""".stripMargin) { (s, dir) =>
      val wh = freshDir("a49", dir)
      val cat = "graft_a49_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, lang STRING,
        n_chars BIGINT) TBLPROPERTIES ('bloomcolumns'='doc_id')""")
      // Hash-distribute by doc_id: 8 files of interleaved ids, each
      // carrying a bloom sidecar over doc_id.
      Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        col("n_chars")).repartition(8, col("doc_id"))
        .createOrReplaceTempView("a49_src")
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a49_src")
      s.sql(s"""SELECT count(*) AS n, sum(n_chars) AS sum_chars,
          sum(doc_id) AS sum_ids
        FROM $cat.docs WHERE doc_id IN (3, 57, 4001, 999999123)""")
    },

    // DYNAMIC FILE PRUNING (DSv2 runtime filtering beyond row-level
    // ops): the fact scan reports its partition/bloom columns as
    // runtime-filterable, Spark plants a DPP subquery on the fact-dim
    // join, and the dim's surviving keys prune fact FILES at
    // execution time — the dim filter here is on a NON-join column
    // (total parity), so no static predicate ever reaches the fact
    // table. The oracle checks the result of exactly that
    // runtime-pruned plan; BloomIndexSpec pins runtimeFilters + the
    // files-read metric.
    QuerySpec(
      "a50_runtime_file_pruning",
      """WITH d AS (
        |  SELECT lang, count(*) AS total FROM documents GROUP BY lang
        |)
        |SELECT f.lang, count(*)::BIGINT AS n,
        |  CAST(sum(f.n_chars) AS BIGINT) AS sum_chars
        |FROM documents f JOIN d ON f.lang = d.lang
        |WHERE d.total % 2 = 1
        |GROUP BY f.lang""".stripMargin) { (s, dir) =>
      val wh = freshDir("a50", dir)
      val cat = "graft_a50_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.facts (doc_id BIGINT, lang STRING,
        n_chars BIGINT) PARTITIONED BY (lang)""")
      s.sql(s"CREATE TABLE $cat.dims (lang STRING, total BIGINT)")
      Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        col("n_chars")).createOrReplaceTempView("a50_src")
      s.sql(s"""INSERT INTO $cat.facts SELECT * FROM a50_src
        DISTRIBUTE BY lang""")
      s.sql(s"""INSERT INTO $cat.dims
        SELECT lang, count(*) FROM a50_src GROUP BY lang""")
      s.sql(s"""SELECT f.lang, count(*) AS n, sum(f.n_chars) AS sum_chars
        FROM $cat.facts f JOIN $cat.dims d ON f.lang = d.lang
        WHERE d.total % 2 = 1
        GROUP BY f.lang""")
    },

    // SCHEMA EVOLUTION WITHOUT REWRITE ([[SchemaEvolution]]): half the
    // corpus is written under VINTAGE column names and an INT width,
    // then the columns are RENAMED and WIDENED (metadata-only — zero
    // data bytes rewritten), and the other half lands under the new
    // schema. The aggregate must fold BOTH vintages identically to one
    // table that never evolved: payload keys resolve through the
    // rename log, stat tokens re-parse under the wider type.
    // SchemaEvolutionSpec pins the machinery (stats pruning, bloom,
    // eqdeletes, sort stamps, partition pruning across a rename).
    QuerySpec(
      "a51_rename_widen",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY lang""".stripMargin) { (s, dir) =>
      val wh = freshDir("a51", dir)
      val cat = "graft_a51_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"CREATE TABLE $cat.docs (id BIGINT, lng STRING, sz INT)")
      Tables.documents(s, dir)
        .selectExpr("doc_id", "lang", "CAST(n_chars AS INT) AS n_chars")
        .createOrReplaceTempView("a51_src")
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a51_src WHERE doc_id % 2 = 0")
      s.sql(s"ALTER TABLE $cat.docs RENAME COLUMN id TO doc_id")
      s.sql(s"ALTER TABLE $cat.docs RENAME COLUMN lng TO lang")
      s.sql(s"ALTER TABLE $cat.docs ALTER COLUMN sz TYPE BIGINT")
      s.sql(s"ALTER TABLE $cat.docs RENAME COLUMN sz TO n_chars")
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a51_src WHERE doc_id % 2 = 1")
      s.sql(s"""SELECT lang, count(*) AS n,
          sum(doc_id) AS sum_ids, sum(n_chars) AS sum_chars
        FROM $cat.docs GROUP BY lang""")
    },

    // SUB-FILE BLOCK PRUNING ([[StagedFile.blocks]] — the parquet
    // row-group / Iceberg split-offsets idea): one SORTED multi-block
    // file; a range predicate plans only the byte ranges whose
    // per-block bounds may match, instead of the whole file. At 100 TB
    // this is the difference between a point lookup reading one 16 MB
    // block of a 1 GB file and reading the file. The oracle checks the
    // RESULT of exactly that block-pruned plan; BlockStatsSpec pins
    // the planned-partition count, boundary exactness, the DV/eqdelete
    // composition, and the row-level-rewrite safety rule.
    QuerySpec(
      "a52_block_pruning",
      """SELECT count(*)::BIGINT AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE doc_id >= 100 AND doc_id < 180""".stripMargin) { (s, dir) =>
      val wh = freshDir("a52", dir)
      val cat = "graft_a52_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, lang STRING,
        n_chars BIGINT) TBLPROPERTIES ('blockbytes'='4096')""")
      Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          col("n_chars")).orderBy(col("doc_id")).coalesce(1)
        .createOrReplaceTempView("a52_src")
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a52_src")
      s.sql(s"""SELECT count(*) AS n, sum(doc_id) AS sum_ids,
          sum(n_chars) AS sum_chars
        FROM $cat.docs WHERE doc_id >= 100 AND doc_id < 180""")
    },

    // COLUMN DEFAULT VALUES (Iceberg v3 initial-defaults): half the
    // corpus is written BEFORE a `grade` column exists; ADD COLUMN ...
    // DEFAULT 2 is metadata-only (no rewrite) and pre-ADD rows read
    // the initial default — absent payload key, never a rewritten
    // byte — while the second half lands with explicit grades. The
    // oracle reproduces the default with a CASE over the same split.
    // DefaultValuesSpec pins CURRENT vs EXISTS default semantics,
    // compaction/DV/rename composition, and the eqdelete refusal.
    QuerySpec(
      "a53_column_defaults",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 2
        |               ELSE doc_id % 5 END) AS BIGINT) AS sum_grades
        |FROM documents
        |GROUP BY lang""".stripMargin) { (s, dir) =>
      val wh = freshDir("a53", dir)
      val cat = "graft_a53_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"CREATE TABLE $cat.docs (doc_id BIGINT, lang STRING)")
      Tables.documents(s, dir).select(col("doc_id"), col("lang"))
        .createOrReplaceTempView("a53_src")
      s.sql(s"""INSERT INTO $cat.docs
        SELECT doc_id, lang FROM a53_src WHERE doc_id % 2 = 0""")
      s.sql(s"ALTER TABLE $cat.docs ADD COLUMN grade BIGINT DEFAULT 2")
      s.sql(s"""INSERT INTO $cat.docs
        SELECT doc_id, lang, doc_id % 5 FROM a53_src WHERE doc_id % 2 = 1""")
      s.sql(s"""SELECT lang, count(*) AS n, sum(grade) AS sum_grades
        FROM $cat.docs GROUP BY lang""")
    },

    // COMPRESSED DATA FILES (`codec`='gzip'): the corpus round-trips
    // through gzip'd NDJSON — at 100 TB text deflates 5-10x, so this
    // is the storage/scan-I/O lever — with row-level DELETEs applying
    // INSIDE compressed files via logical (uncompressed) offsets and
    // compaction concatenating gzip members. The oracle reproduces the
    // delete with a WHERE; CodecSpec pins the byte-level facts (magic
    // bytes, compressed size, DV/eqdelete/transcode/sort/stream
    // composition).
    QuerySpec(
      "a54_gzip_codec",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE doc_id % 10 <> 3
        |GROUP BY lang""".stripMargin) { (s, dir) =>
      val wh = freshDir("a54", dir)
      val cat = "graft_a54_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, lang STRING,
        n_chars BIGINT) TBLPROPERTIES ('codec'='gzip',
        'deletionvectors'='true')""")
      Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        col("n_chars")).createOrReplaceTempView("a54_src")
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a54_src")
      s.sql(s"DELETE FROM $cat.docs WHERE doc_id % 10 = 3")
      s.sql(s"""SELECT lang, count(*) AS n, sum(n_chars) AS sum_chars
        FROM $cat.docs GROUP BY lang""")
    },

    // WRITE-SIDE SCHEMA EVOLUTION (mergeSchema appends — the
    // reference's everyday hazard: `dags/users_etl.py:143` derives its
    // columns from whatever keys the first payload row carries, so a
    // crawl pipeline's upstream schema DRIFTS weekly). A table with
    // TBLPROPERTIES('mergeschema'='true') declares ACCEPT_ANY_SCHEMA
    // and the connector re-resolves every write: half the corpus lands
    // BEFORE the n_chars column exists, the other half arrives carrying
    // it via a PLAIN append — no ALTER — and the schema evolves inside
    // the same commit (pre-evolution rows read null: the a53 absent-key
    // machinery). The aggregate must match the oracle's CASE over the
    // same split; MergeSchemaSpec pins the resolution/refusal matrix.
    QuerySpec(
      "a55_mergeschema_append",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
        |    AS sum_chars
        |FROM documents
        |GROUP BY lang""".stripMargin) { (s, dir) =>
      val wh = freshDir("a55", dir)
      val cat = "graft_a55_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, lang STRING)
        TBLPROPERTIES ('mergeschema'='true')""")
      Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        col("n_chars")).createOrReplaceTempView("a55_src")
      s.sql(s"""INSERT INTO $cat.docs
        SELECT doc_id, lang FROM a55_src WHERE doc_id % 2 = 0""")
      // The drifted upstream: same pipeline, one more column — a plain
      // append, no ALTER TABLE anywhere.
      s.sql(s"""INSERT INTO $cat.docs
        SELECT doc_id, lang, n_chars FROM a55_src WHERE doc_id % 2 = 1""")
      s.sql(s"""SELECT lang, count(*) AS n, sum(doc_id) AS sum_ids,
          sum(n_chars) AS sum_chars
        FROM $cat.docs GROUP BY lang""")
    },

    // SEEKABLE COMPRESSED FILES (round-14: compression no longer
    // forfeits the format's two best I/O features). The writer seals a
    // zstd frame at every `blockbytes` boundary and records each
    // block's physical frame offset, so ONE compressed sorted file
    // prunes to a single frame on a point/range lookup (a52's flat
    // lookup wall, now under 5-43x smaller bytes) AND fans out across
    // tasks on a full scan (a15's split reads) — logical offsets, row
    // identity and DVs intact. The spec forces sub-block splits AND a
    // block-pruned range read over the same single compressed file; the
    // oracle must match under both plans. CodecSpec pins the byte-level
    // facts (frame boundaries, member headers, partition counts, DV
    // composition).
    QuerySpec(
      "a56_seekable_codec",
      """SELECT count(*)::BIGINT AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE (doc_id >= 200 AND doc_id < 320) OR doc_id % 7 = 3""".stripMargin) {
      (s, dir) =>
      val wh = freshDir("a56", dir)
      val cat = "graft_a56_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, lang STRING,
        n_chars BIGINT) TBLPROPERTIES ('codec'='zstd', 'blockbytes'='4096')""")
      Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          col("n_chars")).orderBy(col("doc_id")).coalesce(1)
        .createOrReplaceTempView("a56_src")
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a56_src")
      val sch = s.table(s"$cat.docs").schema
      // Block-pruned leg: range lookup inside the sorted compressed
      // file plans only the surviving frames.
      val pruned = s.sql(s"""SELECT doc_id, n_chars FROM $cat.docs
        WHERE doc_id >= 200 AND doc_id < 320""")
      // Split leg: the SAME file read with forced sub-block splits —
      // every frame decodes independently from its recorded offset.
      val split = s.read.format("graft.sources.ManifestSink").schema(sch)
        .option("path", wh.resolve("docs").toString)
        .option("maxsplitbytes", "2048").load()
        .where(col("doc_id") % 7 === 3 &&
          !(col("doc_id") >= 200 && col("doc_id") < 320))
        .select(col("doc_id"), col("n_chars"))
      pruned.unionAll(split).agg(
        count(lit(1)).as("n"),
        sum(col("doc_id")).cast("long").as("sum_ids"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
    },

    // NESTED STRUCT PAYLOADS (round-14): the reference's natural
    // payload IS nested user JSON (`dags/users_etl.py:100-111`,
    // user→address→geo), which the manifest codec previously refused at
    // write-builder time — raw-zone storage required pre-flattening.
    // Struct columns now render as nested JSON objects and round-trip
    // exactly; the spec lands the corpus under the reference's shape,
    // projects nested LEAVES back out (nested schema pruning reaches
    // the scan — NestedPayloadSpec pins the pruned read schema), and
    // aggregates them against the flat oracle. Stats/pruning stay
    // top-level-scalar; nested fields are opaque to the planner.
    QuerySpec(
      "a57_nested_payloads",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(n_chars % 7) AS BIGINT) AS sum_grade
        |FROM documents
        |GROUP BY lang""".stripMargin) { (s, dir) =>
      val wh = freshDir("a57", dir)
      val cat = "graft_a57_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.users (doc_id BIGINT,
        profile STRUCT<lang: STRING,
          address: STRUCT<n_chars: BIGINT, grade: BIGINT>>)""")
      Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        col("n_chars")).createOrReplaceTempView("a57_src")
      s.sql(s"""INSERT INTO $cat.users
        SELECT doc_id, named_struct('lang', lang,
          'address', named_struct('n_chars', n_chars, 'grade', n_chars % 7))
        FROM a57_src""")
      s.sql(s"""SELECT profile.lang AS lang, count(*) AS n,
          sum(doc_id) AS sum_ids,
          sum(profile.address.n_chars) AS sum_chars,
          sum(profile.address.grade) AS sum_grade
        FROM $cat.users GROUP BY profile.lang""")
    },

    // NESTED-LEAF STATISTICS (round-14, the follow-on to a57): the
    // writer records min/max bounds for every orderable struct LEAF
    // under its dotted path, Spark pushes nested-leaf predicates and
    // aggregates to the connector, and both consume those bounds — a
    // range filter on profile.address.n_chars prunes files whose leaf
    // range excludes it, and min/max of the leaf folds from metadata
    // with ZERO data bytes (NestedPayloadSpec pins the LocalTableScan
    // plan and the skipped-file count). The oracle checks the result
    // of exactly those plans: one leaf-pruned filtered leg crossed
    // with one metadata-folded min/max leg.
    QuerySpec(
      "a58_nested_leaf_stats",
      """SELECT
        |  (SELECT count(*)::BIGINT FROM documents
        |     WHERE n_chars >= 500 AND n_chars < 900) AS n_mid,
        |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM documents
        |     WHERE n_chars >= 500 AND n_chars < 900) AS sum_mid,
        |  (SELECT CAST(min(n_chars) AS BIGINT) FROM documents) AS lo,
        |  (SELECT CAST(max(n_chars) AS BIGINT) FROM documents) AS hi""".stripMargin) {
      (s, dir) =>
      val wh = freshDir("a58", dir)
      val cat = "graft_a58_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.users (doc_id BIGINT,
        profile STRUCT<lang: STRING, address: STRUCT<n_chars: BIGINT>>)""")
      // Range-partitioned by the LEAF so files carry disjoint leaf
      // bounds — the shape file skipping needs.
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartitionByRange(8, col("n_chars"))
        .selectExpr("doc_id",
          "named_struct('lang', lang, 'address', " +
            "named_struct('n_chars', n_chars)) AS profile")
        .writeTo(s"$cat.users").append()
      val mid = s.sql(s"""SELECT count(*) AS n_mid,
          sum(doc_id) AS sum_mid
        FROM $cat.users
        WHERE profile.address.n_chars >= 500
          AND profile.address.n_chars < 900""")
      val ext = s.sql(s"""SELECT min(profile.address.n_chars) AS lo,
          max(profile.address.n_chars) AS hi FROM $cat.users""")
      mid.crossJoin(ext)
    },

    // NESTED-LEAF BLOOM LOOKUP (round-14, a49's shape one level down):
    // the corpus lands under the reference's nested-user shape with a
    // bloom index on the dotted leaf path profile.doc_id — leaf ids are
    // hash-distributed across 8 files, so every file's [min,max] spans
    // the domain and ONLY the per-file leaf bloom can skip. The oracle
    // checks the result of exactly that bloom-pruned plan (plus a miss
    // probe that plans zero files); NestedPayloadSpec pins the planned
    // partition counts and the rename interplay.
    QuerySpec(
      "a59_nested_bloom_lookup",
      """SELECT count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents
        |WHERE doc_id IN (11, 47, 2089, 777777777)""".stripMargin) { (s, dir) =>
      val wh = freshDir("a59", dir)
      val cat = "graft_a59_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.users (row_id BIGINT,
        profile STRUCT<doc_id: BIGINT, lang: STRING, n_chars: BIGINT>)
        TBLPROPERTIES ('bloomcolumns'='profile.doc_id')""")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartition(8, col("doc_id"))
        .selectExpr("doc_id AS row_id",
          "named_struct('doc_id', doc_id, 'lang', lang, " +
            "'n_chars', n_chars) AS profile")
        .writeTo(s"$cat.users").append()
      s.sql(s"""SELECT count(*) AS n,
          sum(profile.n_chars) AS sum_chars,
          sum(profile.doc_id) AS sum_ids
        FROM $cat.users
        WHERE profile.doc_id IN (11, 47, 2089, 777777777)""")
    },

    // ARRAY/MAP PAYLOADS (round-15): the corpus's own column shapes —
    // embeddings are ARRAY<FLOAT> (the embeddings table, TESTDATA.md),
    // token lists and tag maps ride beside them — previously refused at
    // the write builder (a57 landed structs only). Arrays render as
    // JSON arrays and maps as scalar-keyed JSON objects; the spec
    // lands the embeddings table VERBATIM (float elements round-trip
    // through shortest-representation rendering) plus a tag map, then
    // checks per-row element access, per-row dimension, an exact
    // integer checksum folded over every element (floor-quantized, so
    // one corrupted element anywhere breaks the hash), and map lookup —
    // all against DuckDB reading the original parquet. Stats/pruning
    // stay scalar (ArrayMapPayloadSpec pins bounds-never-claimed, DV/
    // codec/time-travel interplay, and inference).
    QuerySpec(
      "a60_array_map_payloads",
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS e0,
        |  CASE WHEN embedding IS NULL THEN NULL
        |    ELSE CAST(coalesce(list_sum(list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))), 0)
        |      AS BIGINT) END AS qsum,
        |  CAST(label AS BIGINT) AS lbl
        |FROM embeddings""".stripMargin) { (s, dir) =>
      val wh = freshDir("a60", dir)
      val cat = "graft_a60_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.emb (vec_id BIGINT,
        embedding ARRAY<FLOAT>, tags MAP<STRING, BIGINT>)""")
      Tables.embeddings(s, dir).createOrReplaceTempView("a60_src")
      s.sql(s"""INSERT INTO $cat.emb
        SELECT vec_id, embedding,
          map('label', CAST(label AS BIGINT),
              'dim', CAST(size(embedding) AS BIGINT))
        FROM a60_src""")
      s.sql(s"""SELECT vec_id, CAST(size(embedding) AS BIGINT) AS dim,
          CAST(try_element_at(embedding, 1) AS DOUBLE) AS e0,
          aggregate(embedding, 0L, (acc, x) ->
            acc + CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qsum,
          try_element_at(tags, 'label') AS lbl
        FROM $cat.emb""")
    },

    // COLUMNAR PAYLOAD LANE (round-15): data files inside the same
    // manifest/committer machinery may be PARQUET
    // (TBLPROPERTIES filekind=parquet) — the 100 TB scan-I/O answer the
    // NDJSON kind's projection-aware tokenizer cannot give (CPU tracks
    // the projection, but I/O still reads full rows). The spec lands
    // the corpus in a parquet-kind table, row-level DELETEs through the
    // ordinal-keyed deletion-vector path, and aggregates the survivors
    // — so the oracle checks commit atomicity, the vectorized read,
    // projection, DV semantics on ordinals, and manifest stats in one
    // pass. ParquetLaneSpec pins file skipping, metadata aggregates,
    // evolution, equality deletes, mixed-kind tables, and the scope
    // refusals; SCALE.md's parquetlane probe carries the scan-I/O
    // delta vs zstd-NDJSON on the wide frame.
    QuerySpec(
      "a61_parquet_lane",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents
        |WHERE doc_id % 10 <> 3
        |GROUP BY lang""".stripMargin) { (s, dir) =>
      val wh = freshDir("a61", dir)
      val cat = "graft_a61_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, lang STRING,
        n_chars BIGINT) TBLPROPERTIES ('filekind'='parquet')""")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .writeTo(s"$cat.docs").append()
      s.sql(s"DELETE FROM $cat.docs WHERE doc_id % 10 = 3")
      s.sql(s"""SELECT lang, count(*) AS n,
          sum(n_chars) AS sum_chars, sum(doc_id) AS sum_ids
        FROM $cat.docs GROUP BY lang""")
    },

    // LEAF-KEYED EQUALITY DELETES (round-15): a CDC stream keyed on a
    // NESTED id — the corpus lands under the reference's nested-user
    // shape, a tombstone batch keyed on the dotted leaf path
    // `profile.doc_id` retracts a key set, and a LATER commit
    // re-inserts some of those keys (the Iceberg sequence rule: a
    // tombstone applies only to files committed before it, so the
    // re-inserts survive). The read-side membership extracts the leaf
    // from the captured struct raw with the same rendered-literal
    // contract as top-level keys; IngestSpec pins the validation
    // matrix (unknown path / leaf-type mismatch refuse) and the
    // rename interplay, ParquetLaneSpec the columnar-kind extraction.
    QuerySpec(
      "a62_leaf_eqdelete",
      """WITH survivors AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  WHERE doc_id % 97 <> 13
        |  UNION ALL
        |  SELECT doc_id, 'xx' AS lang, n_chars FROM documents
        |  WHERE doc_id IN (13, 110, 207)
        |)
        |SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM survivors GROUP BY lang""".stripMargin) { (s, dir) =>
      val wh = freshDir("a62", dir)
      val cat = "graft_a62_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.users (row_id BIGINT,
        profile STRUCT<doc_id: BIGINT, lang: STRING, n_chars: BIGINT>)""")
      Tables.documents(s, dir)
        .selectExpr("doc_id AS row_id",
          "named_struct('doc_id', doc_id, 'lang', lang, " +
            "'n_chars', n_chars) AS profile")
        .writeTo(s"$cat.users").append()
      Tables.documents(s, dir).createOrReplaceTempView("a62_src")
      graft.sources.ManifestOps.equalityDelete(s"$wh/users",
        Tables.documents(s, dir).where(col("doc_id") % 97 === 13)
          .selectExpr("doc_id AS `profile.doc_id`"))
      s.sql(s"""INSERT INTO $cat.users
        SELECT doc_id, named_struct('doc_id', doc_id, 'lang', 'xx',
          'n_chars', n_chars)
        FROM a62_src WHERE doc_id IN (13, 110, 207)""")
      s.sql(s"""SELECT profile.lang AS lang, count(*) AS n,
          sum(profile.n_chars) AS sum_chars,
          sum(profile.doc_id) AS sum_ids
        FROM $cat.users GROUP BY profile.lang""")
    },

    // MULTI-WRITER OPTIMISTIC COMMITS (round-16): two concurrent
    // backfills append DISJOINT halves of the corpus to ONE table from
    // racing threads — the daily-partition backfill shape. Append
    // commits compose against whatever manifest they find under the
    // publish lock (the re-read is the optimistic re-validate; appends
    // always validate clean) and queue up to the holder's lease, so
    // BOTH land whatever the interleaving; a dropped or doubled commit
    // breaks the per-language counts/sums against the oracle, which
    // simply aggregates the whole corpus. ConcurrentCommitSpec pins
    // the lock-queueing, CoW-conflict, and 8-writer fuzz matrix.
    QuerySpec(
      "a63_concurrent_appends",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents GROUP BY lang""".stripMargin) { (s, dir) =>
      val wh = freshDir("a63", dir)
      val cat = "graft_a63_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, lang STRING,
        n_chars BIGINT)""")
      val src = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val gate = new java.util.concurrent.CountDownLatch(1)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val halves = Seq(0L, 1L).map { h =>
        Future {
          gate.await(10, java.util.concurrent.TimeUnit.SECONDS)
          src.where(col("doc_id") % 2 === h).writeTo(s"$cat.docs").append()
        }
      }
      gate.countDown()
      halves.foreach(Await.result(_, scala.concurrent.duration.Duration(
        300, "s")))
      s.sql(s"""SELECT lang, count(*) AS n, sum(n_chars) AS sum_chars,
          sum(doc_id) AS sum_ids
        FROM $cat.docs GROUP BY lang""")
    },

    // EQUALITY-DELETE CHANGE FEED (the CDC consumer's view of a
    // tombstone commit): a change-feed window CROSSING an equality-
    // delete commit re-emits the tombstone's affected rows — FULL
    // payload, reconstructed by applying the key set to the files it
    // predates, exactly like the normal read's membership test — as
    // `_change_type='delete'` (plain append-only tails still refuse).
    // The spec is the REPLAY proof, oracled end to end: state(1) +
    // window changes must reconstruct the final table exactly, so a
    // missed delete, a resurrected row, or a double-emitted insert
    // breaks the per-language sums against the relational oracle.
    QuerySpec(
      "a47_eqdelete_change_feed",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM documents
        |WHERE (doc_id % 2 = 0 AND doc_id % 10 <> 0) OR doc_id % 2 = 1
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val wh = freshDir("a47", dir)
      val cat = "graft_a47_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.docs")
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, lang STRING,
        n_chars BIGINT) TBLPROPERTIES ('retainHistory'='true')""")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .createOrReplaceTempView("a47_src")
      s.sql(s"""INSERT INTO $cat.docs
        SELECT * FROM a47_src WHERE doc_id % 2 = 0""") // gen 1
      val docsDir = wh.resolve("docs").toString
      graft.sources.ManifestOps.equalityDelete(docsDir,
        s.sql("SELECT doc_id FROM a47_src WHERE doc_id % 10 = 0"),
        retain = true) // gen 2 — the tombstone commit
      s.sql(s"""INSERT INTO $cat.docs
        SELECT * FROM a47_src WHERE doc_id % 2 = 1""") // gen 3
      val sch = StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("n_chars", LongType)))
      val changes = s.read.format("graft.sources.ManifestSink")
        .schema(StructType(sch.fields :+
          StructField("_change_type", StringType)))
        .option("path", docsDir).option("readChangeFeed", "true")
        .option("startingVersion", "1").option("endingVersion", "3")
        .load()
      // REPLAY: state(1) − window deletes + window inserts == state(3).
      val state1 = s.sql(s"SELECT * FROM $cat.docs VERSION AS OF 1")
      val replayed = state1
        .join(changes.where(col("_change_type") === "delete")
          .select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(changes.where(col("_change_type") === "insert")
          .drop("_change_type"))
      replayed.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
    },

    // TEMPORAL/DECIMAL AGGREGATE PUSHDOWN (a42 extended to the types
    // whose stat tokens round-trip exactly): DATE/TIMESTAMP render as
    // fixed-length ISO strings and DECIMAL as plain decimal tokens —
    // all far below the stat-truncation cap — so their min/max fold
    // from manifest stats with ZERO data bytes, like the integrals.
    // `min(ship_date)` over a 100 TB table is a metadata answer. The
    // pin is INSIDE the spec: every data file is hidden while the
    // aggregates run (collected under the hiding — an implementation
    // that scanned would throw); the oracle recomputes relationally.
    QuerySpec(
      "a46_temporal_agg_pushdown",
      """SELECT CAST(min(CAST(o_orderdate AS DATE)) AS DATE) AS min_day,
        |  CAST(max(CAST(o_orderdate AS DATE)) AS DATE) AS max_day,
        |  min(o_orderdate) AS min_ts, max(o_orderdate) AS max_ts,
        |  min(CAST(concat(o_orderkey, '.25') AS DECIMAL(18,2))) AS min_dec,
        |  max(CAST(concat(o_orderkey, '.25') AS DECIMAL(18,2))) AS max_dec
        |FROM orders""".stripMargin) { (s, dir) =>
      val t = freshDir("a46", dir).resolve("t").toString
      val src = Tables.orders(s, dir).selectExpr(
        "CAST(o_orderdate AS DATE) AS day",
        // Parquet may carry NTZ; the payload codec speaks TimestampType
        // (session UTC, so the instant equals the naive reading).
        "CAST(o_orderdate AS TIMESTAMP) AS ts",
        "CAST(concat(o_orderkey, '.25') AS DECIMAL(18,2)) AS dec")
      src.repartitionByRange(4, col("day"))
        .write.format("graft.sources.ManifestSink")
        .option("path", t).mode("overwrite").save()
      val rd = s.read.format("graft.sources.ManifestSink")
        .schema(src.schema).option("path", t).load()
      // THE PIN: hide every data file; the six aggregates must answer
      // from manifest stats alone (LocalScan — zero opens).
      import java.nio.file.Files
      val tPath = java.nio.file.Paths.get(t)
      val dataFiles = graft.sources.ManifestSink.committedFiles(t)
      dataFiles.foreach(n => Files.move(tPath.resolve(n),
        tPath.resolve(n + ".hidden")))
      val rows =
        try rd.agg(min(col("day")).as("min_day"), max(col("day")).as("max_day"),
            min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"),
            min(col("dec")).as("min_dec"), max(col("dec")).as("max_dec"))
          .collect().toSeq
        finally dataFiles.foreach(n => Files.move(tPath.resolve(n + ".hidden"),
          tPath.resolve(n)))
      s.createDataFrame(s.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("min_day",
            org.apache.spark.sql.types.DateType),
          org.apache.spark.sql.types.StructField("max_day",
            org.apache.spark.sql.types.DateType),
          org.apache.spark.sql.types.StructField("min_ts",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("max_ts",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("min_dec",
            org.apache.spark.sql.types.DecimalType(18, 2)),
          org.apache.spark.sql.types.StructField("max_dec",
            org.apache.spark.sql.types.DecimalType(18, 2)))))
    },

    // CROSS-TABLE ATOMIC COMMIT (the reference's O4 — one transaction
    // across N tables — on the manifest format): both tables land a
    // base era normally, then ONE transaction stages the remaining
    // corpus into both (`txnStage` writes are invisible) and
    // `GraftTxn.commitAll` flips them at a single journal-create
    // commit point. The union read covers both tables and both eras;
    // the oracle is the whole corpus — a txn member missing, torn, or
    // double-committed breaks the per-language counts and hashes.
    QuerySpec(
      "a40_cross_table_commit",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      val base = freshDir("a40", dir)
      val (ta, tb) = (base.resolve("ta").toString, base.resolve("tb").toString)
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      def write(df: org.apache.spark.sql.DataFrame, dst: String,
          txn: Option[String]): Unit = {
        val w = df.write.format("graft.sources.ManifestSink")
          .option("path", dst).mode("append")
        txn.fold(w)(id => w.option(graft.sources.GraftTxn.StageOptionKey, id))
          .save()
      }
      write(docs.where(col("doc_id") % 4 === 0), ta, None) // era 1
      write(docs.where(col("doc_id") % 4 === 1), tb, None)
      val id = graft.sources.GraftTxn.newId()
      write(docs.where(col("doc_id") % 4 === 2), ta, Some(id)) // staged
      write(docs.where(col("doc_id") % 4 === 3), tb, Some(id))
      graft.sources.GraftTxn.commitAll(
        base.resolve("_txns").toString, Seq(ta, tb), id)
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("n_chars", LongType)))
      def read(dst: String) = s.read.format("graft.sources.ManifestSink")
        .schema(schema).option("path", dst).load()
      read(ta).unionAll(read(tb)).groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("text_hash"))
    },

    // SNAPSHOT TAGS (Iceberg's named refs): gen 1 is tagged
    // 'training-v1', later commits append and DV-delete, snapshots
    // beyond the keep window expire — and `VERSION AS OF 'training-v1'`
    // must still reproduce EXACTLY the tagged state (the reproducible
    // training-set read: the tag pins both the generation manifest and
    // its files against expiry). Oracle: the gen-1 subset, recomputed.
    QuerySpec(
      "a33_snapshot_tags",
      """SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM documents WHERE doc_id % 2 = 0
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = freshDir("a33", dir)
      val cat = "graft_a33"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.docs")
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, text STRING,
        lang STRING, source STRING, n_chars BIGINT)
        TBLPROPERTIES ('deletionVectors'='true', 'retainHistory'='true')""")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .createOrReplaceTempView("a33_src")
      s.sql(s"""INSERT INTO $cat.docs
        SELECT * FROM a33_src WHERE doc_id % 2 = 0""") // gen 1
      s.sql(s"CALL $cat.system.create_tag('docs', 'training-v1')")
      s.sql(s"""INSERT INTO $cat.docs
        SELECT * FROM a33_src WHERE doc_id % 2 = 1""") // gen 2
      s.sql(s"DELETE FROM $cat.docs WHERE doc_id % 3 = 0") // gen 3 (DV)
      s.sql(s"CALL $cat.system.expire_snapshots('docs', 1)")
      s.sql(s"""SELECT lang, count(*) AS n,
        sum(n_chars) AS sum_chars,
        sum(cast(conv(substr(md5(cast(text AS BINARY)), 1, 8), 16, 10)
          AS BIGINT)) AS text_hash
        FROM $cat.docs VERSION AS OF 'training-v1' GROUP BY lang""")
    },

    // BRANCHES + WRITE-AUDIT-PUBLISH (Iceberg's writable refs): the
    // corpus lands on main, a branch forks it (hard-linked files, own
    // manifest), the branch takes an append AND a copy-on-write upsert
    // in ISOLATION (main is provably untouched until publish), and
    // fast_forward publishes the branch's file set as main's next
    // generation in one swap. Oracle: the post-publish state rebuilt
    // relationally — a branch write leaking early, lost at publish, or
    // doubled across the hard links breaks the hashes.
    QuerySpec(
      "a34_branch_wap",
      """WITH published AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 8 = 2 THEN text || '~b' ELSE text END AS text,
        |    lang, source,
        |    CASE WHEN doc_id % 8 = 2 THEN n_chars + 2 ELSE n_chars END AS n_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 7000000, 'branch doc ' || doc_id, 'bb', source,
        |    11 + length(CAST(doc_id AS VARCHAR))
        |  FROM documents WHERE doc_id % 11 = 5)
        |SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM published GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = freshDir("a34", dir)
      // Hashed per warehouse dir — this spec mixes catalog-name CALLs
      // with path-based branch writes; see a28 for the cached-catalog
      // hazard under the bench's warm-up/timed double run.
      val cat = "graft_a34_" + (wh.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.docs")
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, text STRING,
        lang STRING, source STRING, n_chars BIGINT)""")
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      docs.createOrReplaceTempView("a34_src")
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a34_src")
      s.sql(s"CALL $cat.system.create_branch('docs', 'wap')")
      val bdir = wh.resolve("docs").resolve("_branch_wap").toString
      // Branch-isolated writes: an upsert (every 8th doc marked) and an
      // append of new docs.
      graft.sources.ManifestOps.mergeInto(s, bdir,
        docs.where(col("doc_id") % 8 === 2)
          .withColumn("text", concat(col("text"), lit("~b")))
          .withColumn("n_chars", col("n_chars") + 2), "doc_id")
      docs.where(col("doc_id") % 11 === 5).select(
          (col("doc_id") + 7000000L).as("doc_id"),
          concat(lit("branch doc "), col("doc_id")).as("text"),
          lit("bb").as("lang"), col("source"),
          (lit(11) + length(col("doc_id").cast("string"))
            .cast("long")).as("n_chars"))
        .write.format("graft.sources.ManifestSink")
        .option("path", wh.resolve("docs").toString)
        .option("branch", "wap").mode("append").save()
      s.sql(s"CALL $cat.system.fast_forward('docs', 'wap')")
      s.sql(s"""SELECT lang, count(*) AS n,
        sum(n_chars) AS sum_chars,
        sum(cast(conv(substr(md5(cast(text AS BINARY)), 1, 8), 16, 10)
          AS BIGINT)) AS text_hash
        FROM $cat.docs GROUP BY lang""")
    },

    // MERGE-ON-READ MERGE — a24's exact upsert semantics on a
    // deletion-vector table (Spark's WriteDelta plan instead of the
    // group-based rewrite): matched updates vector-delete the old
    // positions and append replacements, not-matched rows append, no
    // data file is ever rewritten (IngestSpec pins byte-identical).
    // Same oracle as a24 — copy-on-write and merge-on-read MERGE must
    // be observationally equivalent.
    QuerySpec(
      "a32_sql_merge_dv",
      """WITH merged AS (
        |  SELECT doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT doc_id, text || '~m', lang, source, n_chars + 2
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, 'merged doc ' || doc_id, 'xx',
        |    source, 11 + length(CAST(doc_id AS VARCHAR))
        |  FROM documents WHERE doc_id % 9 = 0)
        |SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM merged GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = freshDir("a32", dir)
      val cat = "graft_a32"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.docs")
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, text STRING,
        lang STRING, source STRING, n_chars BIGINT)
        TBLPROPERTIES ('deletionVectors'='true')""")
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      docs.repartitionByRange(4, col("doc_id"))
        .createOrReplaceTempView("a32_src")
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a32_src")
      docs.where(col("doc_id") % 5 === 0)
        .withColumn("text", concat(col("text"), lit("~m")))
        .withColumn("n_chars", col("n_chars") + 2)
        .unionByName(docs.where(col("doc_id") % 9 === 0).select(
          (col("doc_id") + 2000000L).as("doc_id"),
          concat(lit("merged doc "), col("doc_id")).as("text"),
          lit("xx").as("lang"), col("source"),
          (lit(11) + length(col("doc_id").cast("string"))
            .cast("long")).as("n_chars")))
        .createOrReplaceTempView("a32_updates")
      s.sql(s"""MERGE INTO $cat.docs t USING a32_updates u
        ON t.doc_id = u.doc_id
        WHEN MATCHED THEN UPDATE SET
          text = u.text, lang = u.lang, source = u.source,
          n_chars = u.n_chars
        WHEN NOT MATCHED THEN INSERT *""")
      s.sql(s"""SELECT lang, count(*) AS n,
        sum(n_chars) AS sum_chars,
        sum(cast(conv(substr(md5(cast(text AS BINARY)), 1, 8), 16, 10)
          AS BIGINT)) AS text_hash
        FROM $cat.docs GROUP BY lang""")
    },

    // Tri-clause MERGE — the full CDC MIRROR shape (make target equal
    // source): WHEN MATCHED → update, WHEN NOT MATCHED → insert, WHEN
    // NOT MATCHED BY SOURCE → delete, all through the same group-based
    // copy-on-write rewrite (Spark's RewriteMergeIntoTable plans the
    // three-way FULL OUTER between groups and source). The oracle
    // rebuilds the post-merge table from the clause predicates: a
    // survivor the BY SOURCE delete missed, a lost update, or a doubled
    // insert breaks the hashes.
    QuerySpec(
      "a31_merge_mirror",
      """WITH final AS (
        |  SELECT doc_id, text || '~m' AS text, lang, source,
        |    n_chars + 2 AS n_chars
        |  FROM documents WHERE doc_id % 4 = 1
        |  UNION ALL
        |  SELECT doc_id + 5000000, 'nmbs doc ' || doc_id, 'zz', source,
        |    9 + length(CAST(doc_id AS VARCHAR))
        |  FROM documents WHERE doc_id % 9 = 2)
        |SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM final GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = freshDir("a31", dir)
      val cat = "graft_a31"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.docs")
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, text STRING,
        lang STRING, source STRING, n_chars BIGINT)""")
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      docs.repartitionByRange(4, col("doc_id"))
        .createOrReplaceTempView("a31_src")
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a31_src")
      docs.where(col("doc_id") % 4 === 1)
        .unionByName(docs.where(col("doc_id") % 9 === 2).select(
          (col("doc_id") + 5000000L).as("doc_id"),
          concat(lit("nmbs doc "), col("doc_id")).as("text"),
          lit("zz").as("lang"), col("source"),
          (lit(9) + length(col("doc_id").cast("string"))
            .cast("long")).as("n_chars")))
        .createOrReplaceTempView("a31_mirror")
      s.sql(s"""MERGE INTO $cat.docs t USING a31_mirror u
        ON t.doc_id = u.doc_id
        WHEN MATCHED THEN UPDATE SET
          text = concat(t.text, '~m'), n_chars = t.n_chars + 2
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE THEN DELETE""")
      s.sql(s"""SELECT lang, count(*) AS n,
        sum(n_chars) AS sum_chars,
        sum(cast(conv(substr(md5(cast(text AS BINARY)), 1, 8), 16, 10)
          AS BIGINT)) AS text_hash
        FROM $cat.docs GROUP BY lang""")
    },

    // DYNAMIC PARTITION OVERWRITE (Hive's INSERT OVERWRITE with
    // partitionOverwriteMode=dynamic, through the V2 OVERWRITE_DYNAMIC
    // capability): the commit retires exactly the prior files whose
    // partition tuple appears among the written files' tuples — the
    // daily-rerun discipline at 100 TB (replace the day, carry every
    // other partition untouched; IngestSpec pins untouched files carry
    // over by name). The 'en' partition is replaced with a TRANSFORMED,
    // row-count-changing payload; the oracle rebuilds the final table
    // relationally.
    QuerySpec(
      "a30_insert_overwrite_dynamic",
      """WITH final AS (
        |  SELECT doc_id, text, lang, source, n_chars
        |  FROM documents WHERE lang <> 'en'
        |  UNION ALL
        |  SELECT doc_id, upper(text), 'en', source, n_chars + 1
        |  FROM documents WHERE lang = 'en' AND doc_id % 2 = 0)
        |SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM final GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = freshDir("a30", dir)
      val cat = "graft_a30"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.docs")
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, text STRING,
        lang STRING, source STRING, n_chars BIGINT)
        PARTITIONED BY (lang)""")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .createOrReplaceTempView("a30_src")
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a30_src")
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode")
      try {
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        s.sql(s"""INSERT OVERWRITE $cat.docs
          SELECT doc_id, upper(text), 'en', source, n_chars + 1
          FROM a30_src WHERE lang = 'en' AND doc_id % 2 = 0""")
      } finally
        s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      s.sql(s"""SELECT lang, count(*) AS n,
        sum(n_chars) AS sum_chars,
        sum(cast(conv(substr(md5(cast(text AS BINARY)), 1, 8), 16, 10)
          AS BIGINT)) AS text_hash
        FROM $cat.docs GROUP BY lang""")
    },

    // MERGE-ON-READ UPDATE (the position-delta twin of a25's
    // copy-on-write UPDATE): on a deletion-vector table, `UPDATE`
    // vector-deletes the matched rows' old positions and appends ONLY
    // the replacement rows — a non-prunable modulo predicate touches
    // every file, which copy-on-write would rewrite whole and this
    // path leaves byte-identical (IngestSpec-pinned). Same oracle
    // discipline as a25: the SET replayed relationally over the corpus.
    QuerySpec(
      "a29_sql_update_dv",
      """WITH updated AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 6 = 1 THEN text || '~dv' ELSE text END AS text,
        |    lang, source,
        |    CASE WHEN doc_id % 6 = 1 THEN n_chars + 3 ELSE n_chars END AS n_chars
        |  FROM documents)
        |SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM updated GROUP BY 1""".stripMargin) { (s, dir) =>
      val wh = freshDir("a29", dir)
      val cat = "graft_a29"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      s.sql(s"DROP TABLE IF EXISTS $cat.docs")
      s.sql(s"""CREATE TABLE $cat.docs (doc_id BIGINT, text STRING,
        lang STRING, source STRING, n_chars BIGINT)
        TBLPROPERTIES ('deletionVectors'='true')""")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .repartitionByRange(4, col("doc_id"))
        .createOrReplaceTempView("a29_src")
      s.sql(s"INSERT INTO $cat.docs SELECT * FROM a29_src")
      s.sql(s"""UPDATE $cat.docs
        SET text = concat(text, '~dv'), n_chars = n_chars + 3
        WHERE doc_id % 6 = 1""")
      s.sql(s"""SELECT lang, count(*) AS n,
        sum(n_chars) AS sum_chars,
        sum(cast(conv(substr(md5(cast(text AS BINARY)), 1, 8), 16, 10)
          AS BIGINT)) AS text_hash
        FROM $cat.docs GROUP BY lang""")
    },

    // The round-10/11 table-format features COMPOSED across their
    // matrix: bronze is a BUCKETED catalog table with retained history
    // and deletion vectors; it takes two INSERT commits plus a
    // merge-on-read DELETE; a STREAMING CHANGE-FEED tail (one
    // generation per micro-batch) CDC-applies every transition into a
    // bucketed SILVER table — inserts through the copy-on-write upsert
    // (`ManifestOps.mergeInto`), deletes through silver's own
    // deletion-vector SQL DELETE (the DV machinery IS the scalable
    // CDC-delete apply: offsets, not rewrites) — and the spec result
    // joins silver against a same-bucketed dims table (the SPJ layout;
    // the no-Exchange plan pin lives in IngestSpec, correctness here).
    // One oracle covers the whole chain: batch writes → DV delete →
    // CDF delta emission → per-batch upsert/delete apply → bucketed
    // join — a row lost, doubled, or mis-labeled at ANY hop breaks it.
    QuerySpec(
      "st31_medallion_bucketed_cdf",
      """WITH silver AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  WHERE n_chars >= 20 AND NOT (doc_id % 7 = 3)),
        |dims AS (SELECT doc_id, source FROM documents)
        |SELECT s.lang, d.source, count(*)::BIGINT AS n,
        |  CAST(sum(s.n_chars) AS BIGINT) AS sum_chars
        |FROM silver s JOIN dims d ON s.doc_id = d.doc_id
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val base = freshDir("st31", dir)
      // Unique per warehouse dir — see a28: this spec mixes catalog-name
      // SQL (CREATE/INSERT/DELETE) with path-based writes (mergeInto),
      // and a stale cached catalog base would silently split them.
      val cat = "graft_st31_" + (base.toString.hashCode & 0x7fffffff)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      Seq("bronze", "silver", "dims").foreach(t =>
        s.sql(s"DROP TABLE IF EXISTS $cat.$t"))
      s.sql(s"""CREATE TABLE $cat.bronze (doc_id BIGINT, lang STRING,
        n_chars BIGINT) PARTITIONED BY (bucket(4, doc_id))
        TBLPROPERTIES ('deletionVectors'='true', 'retainHistory'='true')""")
      s.sql(s"""CREATE TABLE $cat.silver (doc_id BIGINT, lang STRING,
        n_chars BIGINT) PARTITIONED BY (bucket(4, doc_id))
        TBLPROPERTIES ('deletionVectors'='true')""")
      s.sql(s"""CREATE TABLE $cat.dims (doc_id BIGINT, source STRING)
        PARTITIONED BY (bucket(4, doc_id))""")
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
      docs.createOrReplaceTempView("st31_src")
      s.sql(s"INSERT INTO $cat.dims SELECT doc_id, source FROM st31_src")
      s.sql(s"""INSERT INTO $cat.bronze SELECT doc_id, lang, n_chars
        FROM st31_src WHERE doc_id % 2 = 0""") // gen 1
      s.sql(s"""INSERT INTO $cat.bronze SELECT doc_id, lang, n_chars
        FROM st31_src WHERE doc_id % 2 = 1""") // gen 2
      s.sql(s"DELETE FROM $cat.bronze WHERE doc_id % 7 = 3") // gen 3: DV
      val bronzeDir = base.resolve("bronze").toString
      val silverDir = base.resolve("silver").toString
      val feedSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType),
        StructField("_change_type", StringType)))
      val q = s.readStream.format("graft.sources.ManifestSink")
        .schema(feedSchema).option("path", bronzeDir)
        .option("readChangeFeed", "true")
        .option("maxGenerationsPerTrigger", "1").load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val ins = batch.where(col("_change_type") === "insert" &&
              col("n_chars") >= 20).drop("_change_type")
          if (!ins.isEmpty)
            graft.sources.ManifestOps.mergeInto(batch.sparkSession,
              silverDir, ins, "doc_id",
              writeOptions = Map("partitionBy" -> "bucket(4,doc_id)"))
          // CDC delete-apply through an EQUALITY DELETE: the tombstone
          // keys stream straight into a key file — O(tombstones), no
          // silver scan, no driver-side key materialization (the old
          // form collect()ed keys into a SQL IN string, which a bulk
          // delete generation would have grown without bound).
          graft.sources.ManifestOps.equalityDelete(silverDir,
            batch.where(col("_change_type") === "delete")
              .select("doc_id").distinct())
          ()
        }
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.sql(s"""SELECT s.lang, d.source, count(*) AS n,
        sum(s.n_chars) AS sum_chars
        FROM $cat.silver s JOIN $cat.dims d ON s.doc_id = d.doc_id
        GROUP BY s.lang, d.source""")
    },

    // CHANGE DATA FEED (Delta-CDF on the manifest source): the corpus
    // lands in two retained commits, a copy-on-write MERGE rewrites the
    // key-overlapping files, and the CDF tail (`readChangeFeed=true`)
    // streams every transition — base rows as inserts, the rewritten
    // files' rows as delete+insert pairs with `_change_type` filled at
    // plan time. The spec REPLAYS the feed (per-row insert-minus-delete
    // count > 0 = live) and aggregates the reconstruction; the oracle
    // computes the post-merge state relationally — if the feed missed a
    // delete, doubled an insert, or mis-labeled a transition, the
    // reconstruction diverges from the true final table.
    QuerySpec(
      "st30_stream_change_feed",
      """WITH merged AS (
        |  SELECT doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 10 <> 0
        |  UNION ALL
        |  SELECT doc_id, text || '~u', lang, source, n_chars + 2
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT lang, count(*)::BIGINT AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM merged GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val out = freshDir("st30", dir).toString
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      (0 to 1).foreach { k =>
        docs.where(col("doc_id") % 2 === k)
          .repartitionByRange(2, col("doc_id"))
          .write.format("graft.sources.ManifestSink")
          .option("path", out).option("retainHistory", "true")
          .mode(if (k == 0) "overwrite" else "append").save()
      }
      val updates = docs.where(col("doc_id") % 10 === 0)
        .withColumn("text", concat(col("text"), lit("~u")))
        .withColumn("n_chars", col("n_chars") + 2)
      graft.sources.ManifestOps.mergeInto(s, out, updates, "doc_id",
        writeOptions = Map("retainHistory" -> "true"))
      val cdfSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType),
        StructField("_change_type", StringType)))
      val feed = graft.streaming.Streams.runToTable(
        s.readStream.format("graft.sources.ManifestSink")
          .schema(cdfSchema).option("path", out)
          .option("readChangeFeed", "true").load(),
        "st30_mem", "append")
      feed.groupBy("doc_id", "text", "lang", "source", "n_chars")
        .agg(sum(when(col("_change_type") === "insert", 1)
          .otherwise(-1)).as("net"))
        .where(col("net") > 0)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
          sum(conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
            .cast("long")).as("text_hash"))
    },

    // STREAMING LSH bucket index — the state an incremental near-dup
    // pipeline (dd13's daily-crawl shape) maintains continuously: each
    // arriving document's portable MinHash signature splits into band
    // slices, and a streaming aggregation keyed by (band, slice) keeps
    // the bucket's anchor (min doc_id) and occupancy. Buckets with
    // n_docs ≥ 2 ARE the candidate pairs the batch verifier consumes —
    // so the oracle replays the batch MinHash pipeline (same md5
    // shingles, same SplitMix64 coefficients) and aggregates its bands
    // CTE directly: stream state ≡ batch group-by, order-insensitive by
    // construction (min/count commute with arrival order). State is
    // bounded by DISTINCT buckets (≤ docs × bands), each a fixed-width
    // row — the registry a 100 TB corpus shards by bucket hash, never
    // by document. The band key rides as the minima CSV (portable,
    // engine-stable) rather than an engine hash.
    QuerySpec(
      "st27_stream_lsh_index",
      CurationQueries.minhashPortableOracle(k = 5, numHashes = 16,
        bands = 4, threshold = 0.8, maxDocId = 1000L,
        candStage = "SELECT NULL::BIGINT AS id1, NULL::BIGINT AS id2 WHERE FALSE",
        tail =
          """SELECT CAST(bb AS BIGINT) AS bb,
            |  array_to_string(band, ',') AS band_key,
            |  min(doc_id)::BIGINT AS anchor_doc, count(*)::BIGINT AS n_docs
            |FROM bands GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)) { (s, dir) =>
      import graft.operators.{Dedup, TextAnalysis}
      val rowsPerBand = 4
      val docSchema = s.read
        .option("pathGlobFilter", "documents.parquet").parquet(dir).schema
      val docs = s.readStream.schema(docSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .where(col("doc_id") < 1000)
      // Chained projections keep each stage an attribute (the shingles
      // evaluation contract): normalize once, hash once, sign once.
      val sigs = docs
        .select(col("doc_id"), TextAnalysis.normalizeText(col("text")).as("__norm"))
        .select(col("doc_id"), Dedup.shingleHashesPortable(col("__norm"), 5).as("__h"))
        .select(col("doc_id"), Dedup.minhashSignature(col("__h"), 16).as("__sig"))
      val bandsDf = sigs.select(col("doc_id"),
        posexplode_outer(transform(sequence(lit(0), lit(3)),
          b => slice(col("__sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand))))
          .as(Seq("bb", "__band")))
      val idx = bandsDf
        .select(col("bb").cast("long").as("bb"),
          array_join(expr("transform(__band, x -> cast(x as string))"), ",")
            .as("band_key"),
          col("doc_id"))
        .groupBy("bb", "band_key")
        .agg(min(col("doc_id")).as("anchor_doc"), count(lit(1)).as("n_docs"))
      graft.streaming.Streams.runToTable(idx, "st27_mem", "complete")
        .where(col("n_docs") >= 2)
    },

    // WEIGHTED sampling with exact-integer selection — the mixture-
    // construction primitive q201's unweighted reservoir can't express
    // (sampling proportional to value/importance weights, e.g. DSIR
    // scores or spend). A-ES exponential keys need u^(1/w) — a libm
    // call no cross-engine oracle survives — so this is weighted
    // SYSTEMATIC resampling instead: rows order by a portable hash,
    // integer cumulative weights land in k strata of the group total,
    // and a row is picked where its weight interval crosses a stratum
    // boundary: ⌊cw·k/W⌋ > ⌊(cw−w)·k/W⌋. Pure integer compare → full
    // oracle; heavy rows (w ≥ W/k) select once, so groups yield ≤ k
    // rows deterministically. One partitioned window + one broadcast
    // total per group — no per-group sort of anything but the group.
    QuerySpec(
      "q209_weighted_systematic_sample",
      """WITH base AS (
        |  SELECT event_type, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) + 1 AS w,
        |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS h
        |  FROM events),
        |cum AS (
        |  SELECT event_type, event_id, w,
        |    sum(w) OVER (PARTITION BY event_type ORDER BY h, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    sum(w) OVER (PARTITION BY event_type) AS tw
        |  FROM base)
        |SELECT event_type, event_id, w
        |FROM cum WHERE (cw * 10) // tw > ((cw - w) * 10) // tw""".stripMargin) {
      (s, dir) =>
      // Scale shape (round-10 fix): the oracle's per-group running sum
      // is a window over PARTITION BY event_type — ~5 distinct values,
      // so at scale each partition's ENTIRE event set would sort in a
      // single task. Instead: a GLOBAL range-partitioned prefix sum
      // over the total order (event_type, h, event_id) — every task
      // bounded by its range slice (the tx34 recipe, Ranks machinery) —
      // minus a broadcast per-group offset (total weight of all LOWER
      // groups) recovers the per-group cumulative weight exactly; the
      // per-group total joins in from the same group-count-sized
      // aggregate (AQE broadcasts a 5-row side unhinted).
      import graft.operators.Ranks
      val base = Tables.events(s, dir).select(
        col("event_type"), col("event_id"),
        (floor(col("value") * 100 + 0.5).cast("long") + 1).as("w"),
        conv(substring(md5(col("event_id").cast("string").cast("binary")),
          1, 15), 16, 10).cast("long").as("h"))
      val summed = Ranks.prefixSums(base,
        Seq(col("event_type"), col("h"), col("event_id")),
        Seq((col("w"), "gcw")))
      val totals = base.groupBy("event_type").agg(sum(col("w")).as("tw"))
      val offs = totals.select(col("event_type").as("ct"), col("tw"))
        .join(totals.select(col("event_type").as("ot"), col("tw").as("otw")),
          col("ot") < col("ct"), "left")
        .groupBy(col("ct"), col("tw"))
        .agg(coalesce(sum(col("otw")), lit(0L)).as("off"))
        .select(col("ct").as("event_type"), col("tw"), col("off"))
      summed.join(offs, "event_type")
        .withColumn("cw", col("gcw") - col("off"))
        .where(expr("(cw * 10) div tw") > expr("((cw - w) * 10) div tw"))
        .select(col("event_type"), col("event_id"), col("w"))
    })
}
