package graft.queries

import graft.{QuerySpec, Tables}
import graft.expressions.Hashing
import graft.operators.{Dedup, Ranks, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 curation surface: the data-hygiene operators a production
  * training-data pipeline runs between raw crawl and training shards —
  * PII redaction, train/test contamination detection, repetition scoring,
  * sequence packing, deterministic sampling — plus portable-hash twins of
  * the MinHash-LSH and SimHash near-dup pipelines that upgrade those from
  * rows-only checks to full DuckDB hash-compare oracles, and two
  * relational breadth families (extended stats aggregates, histograms).
  *
  * The reference has none of these (its pipeline stops at rename/cast +
  * PK/FK checks, `/root/reference/dags/users_etl.py:92-155`); they extend
  * the engine per the north star. Everything is built from
  * `org.apache.spark.sql.functions` Column expressions — codegen'd,
  * UDF-free — so each op runs at scan speed map-side, and the only
  * shuffles are the explicit joins/aggregations noted per spec.
  */
object CurationQueries {

  /** Shared DuckDB fragment: tokenized lowercase words (identical to
    * [[TextAnalysis.tokens]]). */
  private val duckToks =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  /** Shared DuckDB CTE chain ending in `nll(doc_id, n_pairs, nll_sum_c)`
    * — the add-one-smoothed bigram NLL of tx17, reused by tx36's
    * CCNet-style bucketing. Each pair's -ln p is fixed-pointed BEFORE
    * the per-doc sum, so the aggregation is pure integer math. */
  private lazy val bigramNllCtes: String =
    s"""toks AS (
       |  SELECT doc_id, $duckToks AS toks FROM documents),
       |pairs AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
       |    i -> struct_pack(w1 := toks[i], pair := toks[i] || ' ' || toks[i+1]))) AS p
       |  FROM toks WHERE len(toks) >= 2),
       |flat AS (SELECT doc_id, p.w1 AS w1, p.pair AS pair FROM pairs),
       |cp AS (SELECT pair, count(*) AS cp FROM flat GROUP BY 1),
       |cw AS (SELECT w1, count(*) AS cw FROM flat GROUP BY 1),
       |v AS (SELECT count(DISTINCT w1) AS v FROM flat),
       |nll AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(CAST(floor(-ln((cp.cp + 1.0) / (cw.cw + v.v)) * 1e6 + 0.5) AS BIGINT))
       |      AS BIGINT) AS nll_sum_c
       |  FROM flat JOIN cp USING (pair) JOIN cw USING (w1) CROSS JOIN v
       |  GROUP BY 1)""".stripMargin

  /** Shared DuckDB CTE chain ending in `sp(doc_id, isl, st, en)` — the
    * duplicated-span table of [[graft.operators.Dedup.duplicatedSpans]]
    * (k = 8): window hashes, ≥2-distinct-doc dup set, gaps-and-islands
    * merge. `t(doc_id, toks)` stays visible for consumers. Reused by
    * tx32 (the report) and tx37 (the scrub). */
  private lazy val spanCtes: String =
    s"""t AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |wl AS (
       |  SELECT doc_id, CASE WHEN len(toks) >= 8 THEN
       |    list_transform(range(1, len(toks) - 8 + 2),
       |      i -> struct_pack(pos := i,
       |        h := md5(array_to_string(list_slice(toks, i, i + 7), ' '))))
       |    ELSE [] END AS wins
       |  FROM t),
       |w AS (SELECT doc_id, u.pos AS pos, u.h AS h
       |      FROM (SELECT doc_id, unnest(wins) AS u FROM wl)),
       |dup AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       |d AS (SELECT doc_id, pos FROM w JOIN dup USING (h)),
       |brk AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN coalesce(pos > max(pos + 7) OVER (PARTITION BY doc_id
       |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1,
       |      TRUE) THEN 1 ELSE 0 END AS b
       |  FROM d),
       |g AS (SELECT doc_id, pos, sum(b) OVER (PARTITION BY doc_id ORDER BY pos
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM brk),
       |sp AS (SELECT doc_id, isl, min(pos) AS st, max(pos) + 7 AS en
       |  FROM g GROUP BY 1, 2)""".stripMargin

  /** Shared DuckDB CTE chain (expects [[spanCtes]]'s `t` in scope)
    * ending in `kept(doc_id, n_tokens, kt)` — tx37's span scrub:
    * per-doc span list, position filter, surviving tokens. */
  private lazy val scrubCtes: String =
    """spl AS (
      |  SELECT doc_id, list(struct_pack(st := st, en := en)) AS spans
      |  FROM sp GROUP BY doc_id),
      |tt AS (
      |  SELECT t.doc_id, toks, coalesce(spl.spans, []) AS spans
      |  FROM t LEFT JOIN spl ON t.doc_id = spl.doc_id),
      |kept AS (
      |  SELECT doc_id, len(toks) AS n_tokens,
      |    list_transform(
      |      list_filter(
      |        list_transform(range(1, len(toks) + 1),
      |          i -> struct_pack(i := i, x := toks[i])),
      |        p -> len(list_filter(spans,
      |          s -> p.i >= s.st AND p.i <= s.en)) = 0),
      |      p -> p.x) AS kt
      |  FROM tt)""".stripMargin

  /** Shared DuckDB CTE chain (expects `t` and `sp` in scope) ending in
    * `pol(doc_id, reasons)` — tx38's composite policy bits
    * (1 = gopher, 2 = lang, 4 = dup-span share ≥ 20 %). */
  private lazy val policyCtes: String =
    """nn AS (SELECT doc_id, len(toks) AS n_tokens FROM t),
      |dupbp AS (
      |  SELECT sp.doc_id,
      |    CAST(floor(CAST(sum(en - st + 1) AS DOUBLE) / n_tokens * 10000
      |      + 0.5) AS BIGINT) AS dup_bp
      |  FROM sp JOIN nn ON sp.doc_id = nn.doc_id
      |  GROUP BY sp.doc_id, n_tokens),
      |raw AS (
      |  SELECT d.doc_id, d.text AS tx, t.toks,
      |    string_split(d.text, chr(10)) AS lines,
      |    length(regexp_replace(d.text, '[^\x{4e00}-\x{9fff}]', '', 'g'))
      |      AS cjk
      |  FROM documents d JOIN t ON d.doc_id = t.doc_id),
      |sig AS (
      |  SELECT doc_id, cjk,
      |    len(toks) AS n_words,
      |    greatest(len(toks), 1)::DOUBLE AS dw,
      |    greatest(len(lines), 1)::DOUBLE AS dl,
      |    coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS sum_len,
      |    length(tx) - length(replace(tx, '#', '')) AS hashes,
      |    (length(tx) - length(replace(tx, '...', ''))) / 3 AS ellipses,
      |    len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS alpha_words,
      |    len(list_filter(lines, l -> starts_with(ltrim(l), '- ') OR starts_with(ltrim(l), '* '))) AS bullet_lines,
      |    len(list_filter(lines, l -> ends_with(rtrim(l), '...'))) AS ellipsis_lines,
      |    len(list_intersect(toks, ['the','be','to','of','and','that','have','with'])) AS n_stop,
      |    len(list_filter(toks, t2 -> list_contains(['the','a','and','of','to','in','is','you','that','it'], t2))) AS s_en,
      |    len(list_filter(toks, t2 -> list_contains(['el','la','de','que','y','en','un','ser','se','no'], t2))) AS s_es,
      |    len(list_filter(toks, t2 -> list_contains(['der','die','und','den','von','zu','das','mit','sich','ist'], t2))) AS s_de,
      |    len(list_filter(toks, t2 -> list_contains(['le','la','de','et','les','des','en','un','du','une'], t2))) AS s_fr
      |  FROM raw),
      |bps AS (
      |  SELECT doc_id, cjk, n_words, n_stop, s_en, s_es, s_de, s_fr,
      |    CAST(floor(sum_len / dw * 10000 + 0.5) AS BIGINT) AS mwl_bp,
      |    CAST(floor((hashes + ellipses) / dw * 10000 + 0.5) AS BIGINT) AS symbol_bp,
      |    CAST(floor(alpha_words / dw * 10000 + 0.5) AS BIGINT) AS alpha_bp,
      |    CAST(floor(bullet_lines / dl * 10000 + 0.5) AS BIGINT) AS bullet_bp,
      |    CAST(floor(ellipsis_lines / dl * 10000 + 0.5) AS BIGINT) AS ellipsis_bp
      |  FROM sig),
      |pol AS (
      |  SELECT b.doc_id,
      |    CASE WHEN n_words BETWEEN 50 AND 100000
      |      AND mwl_bp BETWEEN 30000 AND 100000 AND symbol_bp < 1000
      |      AND bullet_bp < 9000 AND ellipsis_bp < 3000 AND alpha_bp > 8000
      |      AND n_stop >= 1 THEN 0 ELSE 1 END
      |    + CASE WHEN (CASE WHEN cjk > 0 THEN 'zh'
      |        WHEN s_en = greatest(s_en, s_es, s_de, s_fr) AND s_en > 0 THEN 'en'
      |        WHEN s_es = greatest(s_en, s_es, s_de, s_fr) AND s_es > 0 THEN 'es'
      |        WHEN s_de = greatest(s_en, s_es, s_de, s_fr) AND s_de > 0 THEN 'de'
      |        WHEN s_fr = greatest(s_en, s_es, s_de, s_fr) AND s_fr > 0 THEN 'fr'
      |        ELSE 'und' END) = 'en' THEN 0 ELSE 2 END
      |    + CASE WHEN coalesce(dup_bp, 0) >= 2000 THEN 4 ELSE 0 END
      |      AS reasons
      |  FROM bps b LEFT JOIN dupbp USING (doc_id))""".stripMargin

  /** Spark twin of [[policyCtes]]: (doc_id, reasons) — the tx38
    * composite bits, shared with the tx39 funnel. `dupBp` lets tx39
    * hand in the (doc_id, dup_bp) report it already derives from its
    * own staged span table instead of recomputing the corpus-wide span
    * machinery a second time (round-17 optimization pass). */
  private def qualityReasons(s: SparkSession, dir: String,
      dupBp: Option[DataFrame] = None): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val staged = graft.Staging.persist(Tables.fanOut(docs)
      .select(col("doc_id"), col("text"),
        TextAnalysis.tokens(col("text")).as("toks"),
        split(col("text"), "\n").as("lines"),
        TextAnalysis.cjkCharCount(col("text")).as("cjk")))
    val sig = staged.select(
      col("doc_id") +: col("toks") +: col("cjk") +:
        TextAnalysis.gopherSignals(col("text"), col("toks"), col("lines"))
          .map { case (n, c) => c.as(n) }: _*)
    val scored = sig.select(col("doc_id"),
      TextAnalysis.gopherKeep(col("n_words"), col("mwl_bp"),
        col("symbol_bp"), col("alpha_bp"), col("bullet_bp"),
        col("ellipsis_bp"), col("n_stop")).as("gk"),
      TextAnalysis.langIdFromParts(col("toks"), col("cjk")).as("pl"))
    val dup = dupBp.getOrElse(
      Dedup.substringDedup(docs, "doc_id", "text", k = 8)
        .select(col("doc_id"), col("dup_bp")))
    scored.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (when(col("gk") === 1, 0L).otherwise(1L) +
          when(col("pl") === "en", 0L).otherwise(2L) +
          when(coalesce(col("dup_bp"), lit(0L)) >= 2000, 4L).otherwise(0L))
          .as("reasons"))
  }

  /** Per-doc add-one-smoothed bigram NLL: (doc_id, n_pairs, nll_sum_c)
    * — the Spark twin of [[bigramNllCtes]] (see tx17 for the plan
    * notes: two corpus-stat shuffles + one broadcast-back join). */
  private def bigramNll(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.fanOut(Tables.documents(s, dir).select("doc_id", "text"))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 2)
    // STAGED (round-18, guide §1.2 "don't compute things twice" — the
    // tx39 recipe the r17 verdict asked to apply here): the tokenized
    // bigram stream feeds FOUR consumers (pair counts, head-word
    // counts, the vocabulary aggregate, and the final NLL join);
    // un-staged, each replayed the regex tokenization + explode — the
    // spec's dominant CPU (scheduler listener: 327 tasks / ~50 task-seconds).
    val flat = graft.Staging.persist(toks
      .select(col("doc_id"), transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1)).as("pair"))).as("ps"))
      .select(col("doc_id"), explode_outer(col("ps")).as("p"))
      .where(col("p").isNotNull)
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.pair").as("pair")))
    val cp = flat.groupBy(col("pair")).agg(count(lit(1)).as("cp"))
    val cw = flat.groupBy(col("w1")).agg(count(lit(1)).as("cw"))
    val v = flat.agg(count_distinct(col("w1")).as("v"))
    flat.join(cp, "pair").join(cw, "w1").crossJoin(broadcast(v))
      .select(col("doc_id"),
        floor(-log((col("cp") + 1.0) / (col("cw") + col("v"))) * 1e6 + 0.5)
          .cast("long").as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("lp")).as("nll_sum_c"))
  }

  // PII patterns — RE2 ∩ java.util.regex common syntax only (no
  // lookaround), so Spark and DuckDB compile the identical automaton.
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
  private val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** The deterministic PII decoration both engines append to each doc —
    * the corpus itself is synthetic prose with no PII, so the spec plants
    * two emails, a phone, and an IP per row (varying with doc_id) and
    * verifies detection counts plus the md5 of the redacted text. */
  private val duckPiiText =
    "text || ' Contact user' || CAST(doc_id AS VARCHAR) || " +
      "'@example.com or admin@test.org, call +1-555-' || " +
      "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
      "' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.25.'"

  /** DuckDB oracle for [[Dedup.minhashNearDupsPortable]] — the same
    * pipeline replayed in SQL, with the SplitMix64-derived permutation
    * coefficients interpolated from the same [[Hashing]] arrays the Spark
    * side uses (parity by construction, not by luck). */
  /** Default candidate stage: all unordered pairs once (`id1 < id2`). */
  private val allPairsCand =
    """SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
      |  FROM bands l JOIN bands r ON l.bb = r.bb AND l.band = r.band AND l.doc_id < r.doc_id""".stripMargin

  /** Incremental candidate stage ([[Dedup.minhashNearDupsIncremental]]):
    * the left side is the new increment only; pairs id-normalized. */
  private def incrementalCand(newPred: String) =
    s"""SELECT DISTINCT least(l.doc_id, r.doc_id) AS id1,
       |    greatest(l.doc_id, r.doc_id) AS id2
       |  FROM bands l JOIN bands r ON l.bb = r.bb AND l.band = r.band
       |    AND l.doc_id <> r.doc_id AND ${newPred.replace("DOC", "l.doc_id")}""".stripMargin

  private[queries] def minhashPortableOracle(
      k: Int, numHashes: Int, bands: Int, threshold: Double,
      maxDocId: Long,
      withPrefix: String = "WITH",
      tail: String = "SELECT id1, id2, jaccard FROM verified WHERE jaccard >= THRESH",
      candStage: String = allPairsCand): String = {
    val rowsPerBand = numHashes / bands
    // Permutation coefficients as a 64-row inline relation instead of two
    // literal arrays indexed inside a lambda: the signature stage is then
    // a plain unnest→join→min-groupBy, which DuckDB vectorizes. Every
    // stage is MATERIALIZED — the planner otherwise inlines the whole
    // chain once per reference (the band self-join references `bands`
    // twice, and a recursive-closure tail re-evaluates `e` per
    // iteration), which measured 160–550 s per oracle at sf0.01 and
    // silently blew the driver's correctness budget. Materialized, the
    // same oracles run in ~1 s.
    val coefRows = (0 until numHashes).map { j =>
      s"($j, ${Hashing.minhashA(numHashes)(j)}, ${Hashing.minhashB(numHashes)(j)})"
    }.mkString(", ")
    s"""$withPrefix base AS MATERIALIZED (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
       |  FROM documents WHERE doc_id < $maxDocId
       |), sh AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(list_transform(
       |      range(1, greatest(length(norm) - ${k - 1}, 1) + 1),
       |      i -> CAST('0x' || substr(md5(substr(norm, i, $k)), 1, 8) AS BIGINT) % 2147483647)) AS hs
       |  FROM base
       |), coef(j, ca, cb) AS MATERIALIZED (VALUES $coefRows
       |), shrow AS MATERIALIZED (
       |  SELECT doc_id, unnest(hs) AS h FROM sh
       |), sigrow AS MATERIALIZED (
       |  SELECT s.doc_id, c.j, min((c.ca * s.h + c.cb) % 2147483647) AS m
       |  FROM shrow s CROSS JOIN coef c GROUP BY 1, 2
       |), bands AS MATERIALIZED (
       |  SELECT doc_id, j // $rowsPerBand AS bb, list(m ORDER BY j) AS band
       |  FROM sigrow GROUP BY 1, 2
       |), cand AS MATERIALIZED (
       |  $candStage
       |), verified AS MATERIALIZED (
       |  SELECT c.id1, c.id2,
       |    round(CAST(len(list_intersect(s1.hs, s2.hs)) AS DOUBLE) /
       |          len(list_distinct(s1.hs || s2.hs)), 4) AS jaccard
       |  FROM cand c JOIN sh s1 ON s1.doc_id = c.id1 JOIN sh s2 ON s2.doc_id = c.id2)
       |${tail.replace("THRESH", threshold.toString)}""".stripMargin
  }

  /** DuckDB oracle for [[Dedup.simhashNearDupsPortable]]: 60-bit simhash
    * over md5-derived token hashes, 4×15-bit chunk candidates, Hamming
    * filter. */
  private val simhashPortableOracle =
    s"""WITH toks AS (
       |  SELECT doc_id, list_transform($duckToks,
       |      t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS th
       |  FROM documents
       |), sig AS (
       |  SELECT doc_id, CASE WHEN len(th) = 0 THEN 0 ELSE
       |    list_sum(list_transform(range(0, 60), b -> CASE WHEN
       |      list_sum(list_transform(th, h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |      THEN (1::BIGINT << b) ELSE 0 END)) END AS sig
       |  FROM toks
       |), chunks AS (
       |  SELECT doc_id, sig, c, (sig >> (c*15)) & 32767 AS v
       |  FROM sig, range(0, 4) t(c)
       |)
       |SELECT id1, id2, hamming FROM (
       |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
       |    CAST(bit_count(xor(l.sig, r.sig)) AS INT) AS hamming
       |  FROM chunks l JOIN chunks r ON l.c = r.c AND l.v = r.v AND l.doc_id < r.doc_id) t
       |WHERE hamming <= 3""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // --- PII redaction ---------------------------------------------------
    // Email/phone/IP detection + scrubbing. Pure regexp map-side work: at
    // 100 TB this runs at scan speed with zero shuffles (the aggregation
    // here is only the per-doc fingerprint the oracle can hash-compare).
    QuerySpec(
      "tx11_pii_redact",
      s"""WITH pii AS (
         |  SELECT doc_id, $duckPiiText AS t FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$emailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$phoneRe')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(t, '$ipRe')) AS BIGINT) AS n_ips,
         |  md5(regexp_replace(regexp_replace(regexp_replace(t,
         |    '$emailRe', '<EMAIL>', 'g'),
         |    '$phoneRe', '<PHONE>', 'g'),
         |    '$ipRe', '<IP>', 'g')) AS red_fp
         |FROM pii""".stripMargin) { (s, dir) =>
      val pii = Tables.fanOut(Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" Contact user"), col("doc_id").cast("string"),
          lit("@example.com or admin@test.org, call +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
          lit(" from 10.0."), pmod(col("doc_id"), lit(256L)).cast("string"),
          lit(".25.")).as("t")))
      pii.select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(emailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("t"), lit(phoneRe), lit(0))).cast("long").as("n_phones"),
        size(regexp_extract_all(col("t"), lit(ipRe), lit(0))).cast("long").as("n_ips"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("t"),
          lit(emailRe), lit("<EMAIL>")),
          lit(phoneRe), lit("<PHONE>")),
          lit(ipRe), lit("<IP>")).cast("binary")).as("red_fp"))
    },

    // --- train/test contamination ---------------------------------------
    // The benchmark-hygiene check every training pipeline needs: which
    // held-out docs share an 8-gram with the train split (under the
    // tx8 hash split)? Shuffle inventory: one exchange of (gram, doc)
    // pairs for the self-join — at 100 TB the gram strings would be
    // hashed to longs first (same plan, 8-byte shuffle keys); kept as
    // strings here so the oracle replays them verbatim.
    QuerySpec(
      "tx12_contamination",
      """WITH split AS (
        |  SELECT doc_id, text,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket
        |  FROM documents
        |), toks AS (
        |  SELECT doc_id, bucket >= 90 AS is_test,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM split WHERE bucket < 80 OR bucket >= 90
        |), grams AS (
        |  SELECT doc_id, is_test, unnest(
        |    list_distinct(list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
        |      i -> array_to_string(list_slice(toks, i, i + 7), ' ')))) AS gram
        |  FROM toks WHERE len(toks) >= 8
        |)
        |SELECT te.doc_id AS test_doc_id,
        |  CAST(count(DISTINCT tr.doc_id) AS BIGINT) AS n_train_docs,
        |  CAST(count(DISTINCT te.gram) AS BIGINT) AS n_shared_grams
        |FROM grams te JOIN grams tr ON te.gram = tr.gram AND te.is_test AND NOT tr.is_test
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val bucket = pmod(
        conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
          .cast("long"), lit(100L))
      val toks = Tables.fanOut(
          Tables.documents(s, dir).select(col("doc_id"), col("text"), bucket.as("bucket"))
            .where(col("bucket") < 80 || col("bucket") >= 90))
        .select(col("doc_id"), (col("bucket") >= 90).as("is_test"),
          TextAnalysis.tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= 8)
      // Stage the gram array behind a select boundary, then explode_outer
      // + null-filter (the InferFiltersFromGenerate contract — see
      // Dedup.lshCandidatePairs).
      val grams = toks
        .select(col("doc_id"), col("is_test"),
          array_distinct(transform(sequence(lit(1), size(col("toks")) - 7),
            i => array_join(slice(col("toks"), i, lit(8)), " "))).as("gs"))
        .select(col("doc_id"), col("is_test"), explode_outer(col("gs")).as("gram"))
        .where(col("gram").isNotNull)
      // Single pass over the gram stream: instead of a test-side /
      // train-side self-join (which would run the tokenize+gram pipeline
      // once per branch — the filters sit below the exchange, so no
      // reuse), group each gram's doc sets once and expand the (tiny)
      // per-gram cross products. One gram shuffle total; the quadratic
      // step is bounded by per-gram doc counts, exactly like an LSH
      // bucket join.
      val perGram = grams.groupBy(col("gram")).agg(
        collect_set(when(col("is_test"), col("doc_id"))).as("te"),
        collect_set(when(!col("is_test"), col("doc_id"))).as("tr"))
        .where(size(col("te")) > 0 && size(col("tr")) > 0)
      perGram
        .select(col("gram"), explode(col("te")).as("test_doc_id"), col("tr"))
        .select(col("gram"), col("test_doc_id"), explode(col("tr")).as("train_doc_id"))
        .groupBy(col("test_doc_id"))
        .agg(count_distinct(col("train_doc_id")).as("n_train_docs"),
          count_distinct(col("gram")).as("n_shared_grams"))
    },

    // --- repetition scoring ----------------------------------------------
    // Fraction of repeated 3-grams per document (integer basis points) —
    // the standard "degenerate/boilerplate text" quality signal. All
    // in-row array work, no shuffle.
    QuerySpec(
      "tx13_repetition",
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
         |    list_transform(range(1, len(toks) - 2 + 1),
         |      i -> array_to_string(list_slice(toks, i, i + 2), ' '))
         |    ELSE [] END AS grams
         |  FROM t)
         |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
         |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
         |  CAST(CASE WHEN len(grams) = 0 THEN 0 ELSE
         |    floor((1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)) * 10000 + 0.5)
         |  END AS BIGINT) AS rep_bp
         |FROM g""".stripMargin) { (s, dir) =>
      Tables.fanOut(Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          when(size(col("toks")) >= 3,
            transform(sequence(lit(1), size(col("toks")) - 2),
              i => array_join(slice(col("toks"), i, lit(3)), " ")))
            .otherwise(typedLit(Seq.empty[String])).as("grams"))
        .select(col("doc_id"),
          size(col("grams")).cast("long").as("n_grams"),
          size(array_distinct(col("grams"))).cast("long").as("n_distinct"),
          when(size(col("grams")) === 0, lit(0L)).otherwise(
            floor((lit(1.0) - size(array_distinct(col("grams"))).cast("double")
              / size(col("grams"))) * 10000 + 0.5).cast("long")).as("rep_bp"))
    },

    // --- sequence packing ------------------------------------------------
    // Pack documents into fixed token-budget training bins (GPT-style
    // concat-and-split at 128-token boundaries): a doc's bin is the bin
    // containing its start offset in the per-source concatenation stream.
    // Scale shape (round-10 fix): the oracle's per-source running sum is
    // a PARTITION BY source window — a ≤10-value enum, so one task would
    // sort a fifth of the corpus at scale. Instead the cumulative offset
    // is the GLOBAL range-partitioned prefix sum over the total order
    // (source, doc_id) minus a broadcast per-source offset (the q209 /
    // tx34 Ranks recipe); every task stays bounded by its range slice.
    QuerySpec(
      "tx14_pack_sequences",
      s"""WITH t AS (
         |  SELECT source, doc_id, len($duckToks) AS n_tok FROM documents),
         |c AS (
         |  SELECT source, doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT source, CAST(floor((cum - n_tok) / 128.0) AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         |  CAST(min(doc_id) AS BIGINT) AS first_doc
         |FROM c GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import graft.operators.{Dedup, Ranks}
      // Staged: consumed by BOTH the global prefix sum and the
      // per-source totals — unstaged, the regex tokenization (the
      // expensive stage) runs once per consumer.
      val toks = graft.Staging.persist(Tables.fanOut(
          Tables.documents(s, dir).select(col("source"), col("doc_id"), col("text")))
        .select(col("source"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok")))
      val summed = Ranks.prefixSums(toks,
        Seq(col("source"), col("doc_id")), Seq((col("n_tok"), "gcum")))
      val totals = toks.groupBy("source").agg(sum(col("n_tok")).as("stot"))
      val offs = totals.select(col("source").as("cs"), col("stot"))
        .join(totals.select(col("source").as("os"), col("stot").as("ot")),
          col("os") < col("cs"), "left")
        .groupBy(col("cs"))
        .agg(coalesce(sum(col("ot")), lit(0L)).as("off"))
        .select(col("cs").as("source"), col("off"))
      summed.join(offs, "source")
        .withColumn("cum", col("gcum") - col("off"))
        .withColumn("bin", floor((col("cum") - col("n_tok")) / lit(128.0)).cast("long"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          min(col("doc_id")).as("first_doc"))
    },

    // --- deterministic stratified sampling -------------------------------
    // Hash-bucket sampling (the scale-correct discipline, same rationale
    // as tx8): stable under retries and repartitioning, exactly
    // reproducible by any engine with md5 — per-stratum sample counts
    // verify the ~20% rate stratum by stratum. The 'smp:' prefix makes
    // the sampling hash independent of the tx8 split hash.
    QuerySpec(
      "q69_stratified_sample",
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(count(*) FILTER (WHERE
        |    CAST('0x' || substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 20)
        |    AS BIGINT) AS n_sample
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      val bucket = pmod(
        conv(substring(md5(concat(lit("smp:"), col("doc_id").cast("string")).cast("binary")),
          1, 8), 16, 10).cast("long"), lit(100L))
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          count(when(bucket < 20, lit(1))).as("n_sample"))
    },

    // Exact-proportion stratified 80/10/10 split: within each language
    // stratum, rows are ranked by a portable salted hash and cut at
    // exact integer boundaries (rnk·10 ≤ n·8 → train, ≤ n·9 → val) — the
    // eval-set discipline hash-RATE splits (tx8/q69) can't give, since
    // their per-stratum counts carry binomial noise. Scale shape: the
    // per-stratum rank is a GLOBAL range-partitioned rank on
    // (lang, hash, id) minus broadcast per-stratum offsets — no
    // partitionBy(lang) window, so one dominant language cannot funnel
    // its stratum through a single task (the oracle's per-lang window is
    // the semantic spec only). The offsets join is language-dimension
    // sized; no broadcast hint needed (AQE handles a 10-row side).
    QuerySpec(
      "tx34_stratified_split",
      """WITH h AS (
        |  SELECT doc_id, coalesce(lang, '') AS lang,
        |    CAST('0x' || substr(md5('spl:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS hv
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rnk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM h)
        |SELECT doc_id, lang,
        |  CASE WHEN rnk * 10 <= n * 8 THEN 'train'
        |       WHEN rnk * 10 <= n * 9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r""".stripMargin) { (s, dir) =>
      import graft.operators.Ranks
      val h = conv(substring(md5(concat(lit("spl:"),
        col("doc_id").cast("string")).cast("binary")), 1, 8), 16, 10)
        .cast("long")
      // Null-safe stratum key: an inner join on a NULL lang would drop
      // the NULL stratum while the oracle's PARTITION BY keeps it — fold
      // NULL into '' on BOTH engines (identity on current data, where
      // lang is never null; a regenerated dataset with nulls stays
      // green instead of silently diverging).
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), coalesce(col("lang"), lit("")).as("lang"),
          h.as("hv"))
      val ranked = Ranks.globalRowNumber(docs, "grn",
        Seq(col("lang"), col("hv"), col("doc_id")))
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      val offs = counts.select(col("lang").as("cl"), col("n"))
        .join(counts.select(col("lang").as("ol"), col("n").as("on")),
          col("ol") < col("cl"), "left")
        .groupBy(col("cl"), col("n"))
        .agg(coalesce(sum(col("on")), lit(0L)).as("off"))
        .select(col("cl").as("lang"), col("n"), col("off"))
      ranked.join(offs, "lang")
        .select(col("doc_id"), col("lang"),
          (col("grn") - col("off")).as("rnk"), col("n"))
        .select(col("doc_id"), col("lang"),
          when(col("rnk") * 10 <= col("n") * 8, "train")
            .when(col("rnk") * 10 <= col("n") * 9, "val")
            .otherwise("test").as("split"))
    },

    // DSIR-style importance weights (Xie et al. 2023, "Data Selection
    // via Importance Resampling"): per-document log importance weight
    // ln(p_target/p_source) under two hashed-n-gram unigram models —
    // target = the English slice, source = the whole corpus; features =
    // unigrams + bigrams hashed into 256 buckets (portable md5).
    // Determinism discipline: each BUCKET's log-ratio is fixed-pointed
    // to micros once in the 256-row model table, and per-doc weights are
    // exact integer sums of those terms — aggregation order cannot
    // perturb them. Scale shape: feature extraction is map-side explode;
    // the model is a bounded 256-row grid joined back on the bucket key
    // (AQE broadcasts it, no hint needed); the only corpus-sized
    // shuffles are the bucket-count groupBy and the per-doc sum.
    QuerySpec(
      "tx35_dsir_weights",
      s"""WITH t AS (SELECT doc_id, lang, $duckToks AS tk FROM documents),
         |u AS (SELECT doc_id, lang, unnest(tk) AS f FROM t),
         |bg AS (
         |  SELECT doc_id, lang, unnest(CASE WHEN len(tk) < 2 THEN []::VARCHAR[]
         |    ELSE list_transform(range(1, len(tk)), i -> tk[i] || '_' || tk[i+1])
         |    END) AS f
         |  FROM t),
         |fe AS MATERIALIZED (
         |  SELECT doc_id, lang,
         |    CAST('0x' || substr(md5('f:' || f), 1, 8) AS BIGINT) % 256 AS b
         |  FROM (SELECT * FROM u UNION ALL SELECT * FROM bg)),
         |ct AS (SELECT b, count(*)::BIGINT AS c FROM fe WHERE lang = 'en' GROUP BY 1),
         |cs AS (SELECT b, count(*)::BIGINT AS c FROM fe GROUP BY 1),
         |nt AS (SELECT count(*)::BIGINT AS n FROM fe WHERE lang = 'en'),
         |ns AS (SELECT count(*)::BIGINT AS n FROM fe),
         |model AS MATERIALIZED (
         |  SELECT g.b,
         |    CAST(floor((ln((coalesce(ct.c, 0) + 1) / CAST(nt.n + 256 AS DOUBLE))
         |      - ln((coalesce(cs.c, 0) + 1) / CAST(ns.n + 256 AS DOUBLE)))
         |      * 1000000) AS BIGINT) AS w
         |  FROM range(0, 256) g(b)
         |  LEFT JOIN ct ON ct.b = g.b
         |  LEFT JOIN cs ON cs.b = g.b
         |  CROSS JOIN nt CROSS JOIN ns)
         |SELECT fe.doc_id, fe.lang, count(*)::BIGINT AS n_feats,
         |  CAST(sum(m.w) AS BIGINT) AS logw_micro
         |FROM fe JOIN model m ON m.b = fe.b
         |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import graft.operators.{Dedup, TextAnalysis}
      val toks = graft.Staging.persist(
        Tables.fanOut(Tables.documents(s, dir).select("doc_id", "lang", "text"))
          .select(col("doc_id"), col("lang"),
            TextAnalysis.tokens(col("text")).as("tk")))
      val uni = toks.select(col("doc_id"), col("lang"), explode(col("tk")).as("f"))
      val bi = toks.select(col("doc_id"), col("lang"), explode(expr(
        """CASE WHEN size(tk) < 2 THEN array()
          |ELSE transform(sequence(0, size(tk) - 2),
          |  i -> concat(element_at(tk, i + 1), '_', element_at(tk, i + 2)))
          |END""".stripMargin)).as("f"))
      val fe = graft.Staging.persist(uni.union(bi).select(col("doc_id"), col("lang"),
        pmod(conv(substring(md5(concat(lit("f:"), col("f")).cast("binary")),
          1, 8), 16, 10).cast("long"), lit(256L)).as("b")))
      val ct = fe.where(col("lang") === "en").groupBy("b").agg(count(lit(1)).as("c_t"))
      val cs = fe.groupBy("b").agg(count(lit(1)).as("c_s"))
      val tot = fe.agg(count(lit(1)).as("ns"),
        count(when(col("lang") === "en", lit(1))).as("nt"))
      val model = s.range(256).select(col("id").as("b"))
        .join(ct, Seq("b"), "left").join(cs, Seq("b"), "left")
        .crossJoin(broadcast(tot))
        .select(col("b"),
          floor((log((coalesce(col("c_t"), lit(0L)) + 1)
              / (col("nt") + 256).cast("double"))
            - log((coalesce(col("c_s"), lit(0L)) + 1)
              / (col("ns") + 256).cast("double"))) * 1000000)
            .cast("long").as("w"))
      fe.join(model, "b")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_feats"), sum(col("w")).as("logw_micro"))
    },

    // --- extended stats aggregates ---------------------------------------
    // median / mode / skewness / kurtosis per group. Spark's builtin
    // central-moment aggregates are validated against a first-principles
    // raw-moment formulation in the oracle (fixed-point projected — FP
    // merge order differs); mode is computed manually on both sides
    // (count-argmax, ties to the smallest value) because builtin mode()
    // tie-breaking is engine-specific.
    QuerySpec(
      "q70_stats_extended",
      """WITH m AS (
        |  SELECT l_returnflag, avg(l_quantity) AS mu,
        |    avg(l_quantity*l_quantity) AS ex2,
        |    avg(l_quantity*l_quantity*l_quantity) AS ex3,
        |    avg(l_quantity*l_quantity*l_quantity*l_quantity) AS ex4,
        |    median(l_quantity) AS med
        |  FROM lineitem GROUP BY 1),
        |cnts AS (
        |  SELECT l_returnflag, l_quantity, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |md AS (
        |  SELECT l_returnflag, min(l_quantity) AS mode_qty FROM (
        |    SELECT l_returnflag, l_quantity, c,
        |      max(c) OVER (PARTITION BY l_returnflag) AS mc
        |    FROM cnts) t WHERE c = mc GROUP BY 1)
        |SELECT m.l_returnflag, round(med, 4) AS med_qty, mode_qty,
        |  CAST(floor(((ex3 - 3*mu*ex2 + 2*mu*mu*mu)
        |    / pow(ex2 - mu*mu, 1.5)) * 1e6 + 0.5) AS BIGINT) AS skew_fp,
        |  CAST(floor(((ex4 - 4*mu*ex3 + 6*mu*mu*ex2 - 3*mu*mu*mu*mu)
        |    / pow(ex2 - mu*mu, 2) - 3) * 1e6 + 0.5) AS BIGINT) AS kurt_fp
        |FROM m JOIN md USING (l_returnflag)""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val stats = li.groupBy(col("l_returnflag")).agg(
        round(median(col("l_quantity")), 4).as("med_qty"),
        floor(skewness(col("l_quantity")) * 1e6 + 0.5).cast("long").as("skew_fp"),
        floor(kurtosis(col("l_quantity")) * 1e6 + 0.5).cast("long").as("kurt_fp"))
      val mw = Window.partitionBy(col("l_returnflag"))
      val mode = li.groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("c"))
        .withColumn("mc", max(col("c")).over(mw))
        .where(col("c") === col("mc"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("l_quantity")).as("mode_qty"))
      stats.join(mode, "l_returnflag")
        .select(col("l_returnflag"), col("med_qty"), col("mode_qty"),
          col("skew_fp"), col("kurt_fp"))
    },

    // --- histogram -------------------------------------------------------
    // Fixed-width histogram of l_extendedprice over [0, 100000) in 10
    // buckets, overflow clamped into the top bucket; Spark's builtin
    // width_bucket is carried alongside and the oracle replays its exact
    // out-of-range semantics (0 below, n+1 above). One shuffle (the
    // groupBy); min/max are exact selections so no rounding is needed.
    QuerySpec(
      "q71_histogram",
      """SELECT CAST(least(floor(l_extendedprice / 10000.0), 9) AS BIGINT) AS bucket,
        |  CAST(CASE WHEN l_extendedprice < 0 THEN 0
        |       WHEN l_extendedprice >= 100000 THEN 11
        |       ELSE floor(l_extendedprice / 10000.0) + 1 END AS BIGINT) AS wb,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(l_extendedprice) AS lo_price,
        |  max(l_extendedprice) AS hi_price
        |FROM lineitem GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val price = col("l_extendedprice")
      Tables.lineitem(s, dir)
        .groupBy(
          least(floor(price / 10000.0), lit(9)).cast("long").as("bucket"),
          width_bucket(price, lit(0d), lit(100000d), lit(10)).as("wb"))
        .agg(count(lit(1)).as("n"),
          min(price).as("lo_price"),
          max(price).as("hi_price"))
    },

    // --- statistical LM quality proxy ------------------------------------
    // Bigram-LM "perplexity" proxy: per-doc total negative log prob of
    // its adjacent word pairs under add-one-smoothed corpus bigram
    // statistics — the classical fluency signal (gibberish scores high,
    // formulaic text low). Each pair's -ln p is fixed-pointed BEFORE the
    // per-doc sum, so the aggregation is pure integer math — immune to
    // FP merge order on both engines. Two corpus-stat shuffles + one
    // broadcast-back join; no window.
    QuerySpec(
      "tx17_bigram_perplexity",
      s"""WITH $bigramNllCtes
         |SELECT doc_id, n_pairs, nll_sum_c FROM nll""".stripMargin) {
      (s, dir) => bigramNll(s, dir)
    },

    // COMPOSITE quality policy — the keep/drop gate a curation run
    // actually ships, composed from three oracled signals: Gopher
    // format rules on the raw text (tx18's signal set), n-gram
    // language-ID (tx3's heuristic; policy keeps the 'en' target
    // slice), and duplicated-span share (tx32's dup_bp ≥ 20 % drops).
    // Each failing rule sets a bit in `reasons` (1 = gopher, 2 = lang,
    // 4 = dup), keep ⇔ reasons = 0 — the auditable form a production
    // filter needs (why did this doc drop?). One staged pass computes
    // text signals; the span share left-joins from the shared span
    // table. All comparisons are exact integers, so every rule
    // boundary hash-matches.
    QuerySpec(
      "tx38_quality_policy",
      s"""WITH $spanCtes,
         |$policyCtes
         |SELECT doc_id, CAST(reasons AS BIGINT) AS reasons,
         |  CAST(CASE WHEN reasons = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM pol""".stripMargin) { (s, dir) =>
      qualityReasons(s, dir)
        .select(col("doc_id"), col("reasons"),
          when(col("reasons") === 0, 1L).otherwise(0L).as("keep"))
    },

    // End-to-end CURATION FUNNEL — the flagship composite: the whole
    // corpus-hygiene run as one query, emitting the per-stage doc and
    // token counts an operator actually reports. Stages: raw → exact
    // dedup (one keeper per normalized fingerprint, min doc_id) →
    // quality policy (tx38 reasons = 0) → span scrub (tx37's surviving
    // tokens). The span table is computed corpus-wide BEFORE dedup (the
    // order a real pipeline uses — duplicated chrome is cross-doc
    // evidence that must see the duplicates); each stage is a semijoin
    // on bounded id sets, so the funnel costs the sum of its parts, not
    // a product. Every count is exact, both engines replay the same
    // four stages. Note the harness corpus's near-dups are ~whole-doc
    // copies (dup share ≥ 91 % wherever a span exists), so every
    // spanned doc already fails the policy's dup bit and stage d's
    // marginal token removal is 0 HERE — on a real crawl partial
    // overlaps dominate and stage d bites; DedupSpec's planted fixture
    // proves the partial-span path.
    QuerySpec(
      "tx39_curation_funnel",
      s"""WITH $spanCtes,
         |$scrubCtes,
         |$policyCtes,
         |fp AS (
         |  SELECT doc_id,
         |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS f
         |  FROM documents),
         |s1 AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
         |s2 AS (
         |  SELECT s1.doc_id FROM s1 JOIN pol ON s1.doc_id = pol.doc_id
         |  WHERE pol.reasons = 0)
         |SELECT 'a_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM kept
         |UNION ALL
         |SELECT 'b_exact_dedup', CAST(count(*) AS BIGINT),
         |  CAST(sum(n_tokens) AS BIGINT)
         |FROM kept JOIN s1 ON kept.doc_id = s1.doc_id
         |UNION ALL
         |SELECT 'c_policy', CAST(count(*) AS BIGINT),
         |  CAST(sum(n_tokens) AS BIGINT)
         |FROM kept JOIN s2 ON kept.doc_id = s2.doc_id
         |UNION ALL
         |SELECT 'd_span_scrub', CAST(count(*) AS BIGINT),
         |  CAST(sum(len(kt)) AS BIGINT)
         |FROM kept JOIN s2 ON kept.doc_id = s2.doc_id""".stripMargin) {
      (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      // ONE corpus-wide span table feeding BOTH consumers (round-17
      // optimization pass): the scrub (stage d's surviving tokens) and
      // the policy's dup-share bit each need Dedup.duplicatedSpans, and
      // un-shared the funnel tokenized the corpus and shuffled the
      // window hashes twice (measured 6.3 s → ~4 s at sf0.1).
      val tok = graft.Staging.persist(docs.select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("toks")))
      val sp = graft.Staging.persist(Dedup.duplicatedSpans(tok, 8))
      val scrub = graft.Staging.persist(Dedup.scrubFromSpans(tok, sp)
        .select(col("doc_id"), col("n_tokens"), col("kept_tokens")))
      val dupBp = Dedup.dupReportFromSpans(tok, sp)
        .select(col("doc_id"), col("dup_bp"))
      val s1 = docs
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("f"))
        .groupBy("f").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val s2 = s1.join(qualityReasons(s, dir, Some(dupBp)), "doc_id")
        .where(col("reasons") === 0).select("doc_id")
      def stageRow(name: String, ids: Option[DataFrame], tokCol: String) = {
        val base = ids.map(scrub.join(_, "doc_id")).getOrElse(scrub)
        base.agg(count(lit(1)).as("n_docs"),
            sum(col(tokCol)).as("n_tokens"))
          .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
      }
      stageRow("a_raw", None, "n_tokens")
        .unionByName(stageRow("b_exact_dedup", Some(s1), "n_tokens"))
        .unionByName(stageRow("c_policy", Some(s2), "n_tokens"))
        .unionByName(stageRow("d_span_scrub", Some(s2), "kept_tokens"))
    },

    // CCNet-style perplexity bucketing — the corpus-curation POLICY
    // built on the tx17 LM signal: rank documents by integer per-pair
    // NLL (nll_sum_c div n_pairs — integer division, so ordering has no
    // FP hazard) and split into head/middle/tail terciles; head = most
    // fluent (lowest perplexity), the slice CCNet keeps for LM
    // training. Global rank rides the range-partitioned Ranks helper
    // (no unpartitioned window funneling the corpus through one task);
    // tercile assignment is exact integer math ((rn−1)·3 div n) so both
    // engines agree on every boundary document.
    QuerySpec(
      "tx36_ccnet_buckets",
      s"""WITH $bigramNllCtes,
         |ppl AS (SELECT doc_id, nll_sum_c // n_pairs AS ppl_c FROM nll),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ppl),
         |r AS (SELECT doc_id, ppl_c,
         |    row_number() OVER (ORDER BY ppl_c, doc_id) AS rn FROM ppl)
         |SELECT r.doc_id, r.ppl_c,
         |  CASE ((r.rn - 1) * 3) // n.n WHEN 0 THEN 'head'
         |       WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM r CROSS JOIN n""".stripMargin) { (s, dir) =>
      // Stage the tiny (doc_id, ppl_c) table: globalRowNumber's range
      // sampling + zipWithIndex are extra actions over their input, and
      // recomputing the corpus-join NLL pipeline per action measured
      // 17.5 s vs 3.4 s staged at sf0.1.
      val ppl = graft.Staging.persist(bigramNll(s, dir)
        .select(col("doc_id"), expr("nll_sum_c div n_pairs").as("ppl_c")))
      val n = ppl.agg(count(lit(1)).as("n"))
      Ranks.globalRowNumber(ppl, "rn", Seq(col("ppl_c"), col("doc_id")))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("ppl_c"),
          when(expr("((rn - 1) * 3) div n") === 0, "head")
            .when(expr("((rn - 1) * 3) div n") === 1, "middle")
            .otherwise("tail").as("bucket"))
    },

    // --- portable near-dup pipelines (oracle-verified twins) -------------
    // The full MinHash-LSH pipeline with every hash portable: upgrades
    // the sublinear dedup story from rows-only (dd4) to a hash-exact
    // DuckDB compare — shingle hashing, permutation minima, band
    // collision join, and exact-Jaccard verification all replayed in SQL
    // from the same constants. Bounded to doc_id < 1000 (all docs at
    // sf≤0.01) to cap the oracle's own md5-per-shingle cost.
    QuerySpec(
      "dd9_minhash_lsh_oracled",
      minhashPortableOracle(k = 5, numHashes = 16, bands = 4,
        threshold = 0.8, maxDocId = 1000L)) { (s, dir) =>
      Dedup.minhashNearDupsPortable(
        Tables.documents(s, dir).where(col("doc_id") < 1000),
        "doc_id", "text", shingleK = 5, numHashes = 16, bands = 4,
        threshold = 0.8)
    },

    // LSH recall audit — "did my banding parameters lose pairs?": the
    // portable MinHash pipeline's verified output measured against the
    // brute-force exact-Jaccard pair set on the SAME shingle sets
    // (bounded subset — the audit runs on a sample at scale, the
    // pipeline on the corpus). n_missed is exactly the banding's recall
    // loss: verification can't add pairs, so LSH ⊆ exact and the ratio
    // is a true recall in basis points.
    QuerySpec(
      "dd16_lsh_recall",
      minhashPortableOracle(k = 5, numHashes = 16, bands = 4,
        threshold = 0.8, maxDocId = 500L,
        tail =
          """, lsh AS (SELECT id1, id2 FROM verified WHERE jaccard >= THRESH),
            |shr AS MATERIALIZED (SELECT doc_id, unnest(hs) AS h FROM sh),
            |sz AS MATERIALIZED (SELECT doc_id, len(hs) AS n FROM sh),
            |inter AS (
            |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
            |  FROM shr a JOIN shr b ON a.h = b.h AND a.doc_id < b.doc_id
            |  GROUP BY 1, 2),
            |exact AS (
            |  SELECT id1, id2 FROM inter
            |  JOIN sz sa ON sa.doc_id = id1
            |  JOIN sz sb ON sb.doc_id = id2
            |  WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) >= THRESH
            |)
            |SELECT (SELECT count(*) FROM exact)::BIGINT AS n_exact,
            |  (SELECT count(*) FROM lsh)::BIGINT AS n_lsh,
            |  ((SELECT count(*) FROM exact)
            |    - (SELECT count(*) FROM lsh))::BIGINT AS n_missed,
            |  CAST(floor(10000.0 * (SELECT count(*) FROM lsh) /
            |    greatest((SELECT count(*) FROM exact), 1)) AS BIGINT)
            |    AS recall_bp""".stripMargin)) { (s, dir) =>
      val docs = Tables.documents(s, dir).where(col("doc_id") < 500)
      val lsh = Dedup.minhashNearDupsPortable(docs, "doc_id", "text",
        shingleK = 5, numHashes = 16, bands = 4, threshold = 0.8)
      // Exact ground truth via the inverted-index self-join: pairs meet
      // on a SHARED shingle hash (jaccard > 0 pairs only — a pair with
      // no shared shingle cannot reach any positive threshold), with
      // |A∪B| = |A|+|B|-|A∩B| from per-doc set sizes. Same pair set as
      // the all-pairs list_intersect formulation, but hash-partitionable
      // (no broadcast nested loop) and linear in shared-shingle
      // occurrences — the formulation the audit would actually run on a
      // 100 TB sample; measured ~4× faster on both engines here.
      val sets = graft.Staging.persist(Tables.fanOut(docs.select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("__norm")))
        .select(col("doc_id"), Dedup.shingleHashesPortable(col("__norm"), 5).as("hs")))
      val shr = sets.select(col("doc_id"), explode(col("hs")).as("h"))
      val sz = sets.select(col("doc_id"), size(col("hs")).cast("long").as("n"))
      val inter = shr.as("a")
        .join(shr.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .agg(count(lit(1)).as("i"))
      val exact = inter
        .join(sz.select(col("doc_id").as("id1"), col("n").as("na")), "id1")
        .join(sz.select(col("doc_id").as("id2"), col("n").as("nb")), "id2")
        .where(round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 4) >= 0.8)
        .select("id1", "id2")
      val ne = exact.count()
      val nl = lsh.count()
      s.range(1).select(lit(ne).as("n_exact"), lit(nl).as("n_lsh"),
        lit(ne - nl).as("n_missed"),
        lit(math.floor(10000.0 * nl / math.max(ne, 1)).toLong).as("recall_bp"))
    },

    // Incremental dedup — the daily-crawl shape: only pairs touching the
    // NEW increment (doc_id % 10 = 0, ~10%) are candidates; the corpus
    // is never self-compared. Same portable pipeline, band join left
    // side filtered to the increment; at scale the old side's
    // signatures come from the previous run's signature store, making
    // each run linear in the increment.
    QuerySpec(
      "dd13_incremental_lsh",
      minhashPortableOracle(k = 5, numHashes = 16, bands = 4,
        threshold = 0.8, maxDocId = 1000L,
        candStage = incrementalCand("DOC % 10 = 0"))) { (s, dir) =>
      Dedup.minhashNearDupsIncremental(
        Tables.documents(s, dir).where(col("doc_id") < 1000),
        "doc_id", "text", isNew = id => pmod(id, lit(10)) === 0,
        shingleK = 5, numHashes = 16, bands = 4, threshold = 0.8)
    },

    // SimHash with portable 60-bit signatures, full corpus: candidate
    // chunks, Hamming distances, and the signature itself are all
    // replayed bit-for-bit by the oracle.
    QuerySpec(
      "dd10_simhash_oracled",
      simhashPortableOracle) { (s, dir) =>
      Dedup.simhashNearDupsPortable(Tables.documents(s, dir), "doc_id", "text")
    },

    // The capstone with a FULL oracle: portable MinHash-LSH pairs →
    // connected components → canonical keeper + cluster size — the
    // end-to-end sublinear dedup story (dd8's shape) where every stage,
    // including the transitive closure, is replayed by the oracle
    // (recursive CTE over the identical pair predicate).
    QuerySpec(
      "dd12_minhash_clusters_oracled",
      minhashPortableOracle(k = 5, numHashes = 16, bands = 4,
        threshold = 0.8, maxDocId = 1000L,
        withPrefix = "WITH RECURSIVE",
        tail =
          """, p AS (SELECT id1, id2 FROM verified WHERE jaccard >= THRESH),
            |e AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p),
            |reach(a, b) AS (
            |  SELECT a, b FROM e
            |  UNION
            |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
            |lab AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
            |        FROM reach GROUP BY a)
            |SELECT cluster_id AS keep_id, CAST(count(*) AS BIGINT) AS n_docs
            |FROM lab GROUP BY 1""".stripMargin)) { (s, dir) =>
      val pairs = Dedup.minhashNearDupsPortable(
        Tables.documents(s, dir).where(col("doc_id") < 1000),
        "doc_id", "text", shingleK = 5, numHashes = 16, bands = 4,
        threshold = 0.8)
      Dedup.connectedComponents(pairs, "id1", "id2")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("cluster_id").as("keep_id"), col("n_docs"))
    },

    // The same portable pair graph resolved by the ALTERNATING-STAR
    // connected-components algorithm (Dedup.connectedComponentsStar) —
    // the O(log n)-round scale path whose convergence is independent of
    // graph diameter. Full per-node label oracle: the recursive CTE
    // replays the transitive closure, so dd17 green means star CC's
    // cluster assignments match min-label's (dd12 aggregates the same
    // labels) on the identical planted graph.
    QuerySpec(
      "dd17_cc_star",
      minhashPortableOracle(k = 5, numHashes = 16, bands = 4,
        threshold = 0.8, maxDocId = 1000L,
        withPrefix = "WITH RECURSIVE",
        tail =
          """, p AS (SELECT id1, id2 FROM verified WHERE jaccard >= THRESH),
            |e AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p),
            |reach(a, b) AS (
            |  SELECT a, b FROM e
            |  UNION
            |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
            |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
            |FROM reach GROUP BY a""".stripMargin)) { (s, dir) =>
      val pairs = Dedup.minhashNearDupsPortable(
        Tables.documents(s, dir).where(col("doc_id") < 1000),
        "doc_id", "text", shingleK = 5, numHashes = 16, bands = 4,
        threshold = 0.8)
      Dedup.connectedComponentsStar(pairs, "id1", "id2")
    },

    // Asymmetric set containment — the subset-duplicate detector
    // symmetric Jaccard misses (a document quoted whole inside a longer
    // one scores low Jaccard, containment ≈ 1). Planted containments: a
    // 200-char prefix of every 5th doc re-enters as its own document;
    // its token set sits inside the original's (modulo the token the
    // cut splits, hence the 0.9 floor). Brute-force ground truth over
    // the bounded subset, same contract as dd3.
    QuerySpec(
      "dd15_containment",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 100
        |  UNION ALL
        |  SELECT doc_id + 10000, substr(text, 1, 200)
        |  FROM documents WHERE doc_id < 100 AND doc_id % 5 = 0
        |), s AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(
        |      string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS toks
        |  FROM corpus)
        |SELECT id1, id2, containment_bp FROM (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    CAST(floor(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / greatest(len(a.toks), 1) * 10000 + 0.5) AS BIGINT) AS containment_bp
        |  FROM s a JOIN s b ON a.doc_id <> b.doc_id) t
        |WHERE containment_bp >= 9000""".stripMargin) { (s, dir) =>
      val base = Tables.documents(s, dir).where(col("doc_id") < 100)
        .select(col("doc_id"), col("text"))
      val planted = base.where(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 10000L).as("doc_id"),
          substring(col("text"), 1, 200).as("text"))
      Dedup.containmentPairs(base.union(planted), "doc_id", "text",
        threshold = 0.9)
    },

    // --- cross-document substring (duplicated-span) dedup ---------------
    // The scalable stand-in for suffix-array exact-substring dedup (Lee
    // et al. 2022): hash every 8-token window, keep hashes seen in >= 2
    // distinct docs, merge each doc's duplicated windows into maximal
    // spans. Portable md5 window hashes let DuckDB replay the whole
    // pipeline — windows, dup set, island merge — bit-for-bit. The one
    // corpus shuffle is the window-hash groupBy carrying (hash, id, pos);
    // span merging is per-doc-partitioned windows, never global.
    QuerySpec(
      "tx32_substring_dedup",
      s"""WITH $spanCtes,
         |n AS (SELECT doc_id, len(toks) AS n_tokens FROM t)
         |SELECT sp.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(en - st + 1) AS BIGINT) AS dup_tokens,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(floor(CAST(sum(en - st + 1) AS DOUBLE) / n_tokens * 10000 + 0.5)
         |    AS BIGINT) AS dup_bp
         |FROM sp JOIN n ON sp.doc_id = n.doc_id
         |GROUP BY sp.doc_id, n_tokens""".stripMargin) { (s, dir) =>
      Dedup.substringDedup(
        Tables.fanOut(Tables.documents(s, dir).select("doc_id", "text")),
        "doc_id", "text", k = 8)
    },

    // Span SCRUB — the removal policy tx32's report feeds (Lee et al.
    // delete duplicated substrings from the corpus; here EVERY doc
    // drops its duplicated spans — a documented symmetric policy):
    // tokens covered by any span are removed, survivors rejoin, and
    // the cleaned text is fingerprinted so the oracle replays the edit
    // bit-for-bit. After the shared span table, the scrub is an in-row
    // HOF over (token, position) pairs — embarrassingly map-side at any
    // corpus size; the per-doc span list is bounded by n_tokens/k.
    QuerySpec(
      "tx37_span_scrub",
      s"""WITH $spanCtes,
         |$scrubCtes
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(len(kt) AS BIGINT) AS kept_tokens,
         |  md5(coalesce(array_to_string(kt, ' '), '')) AS scrub_md5
         |FROM kept""".stripMargin) { (s, dir) =>
      Dedup.scrubSpans(
        Tables.fanOut(Tables.documents(s, dir).select("doc_id", "text")),
        "doc_id", "text", k = 8)
    },

    // --- RAG chunking ----------------------------------------------------
    // Overlapping fixed-size chunking (size 64 tokens, stride 48 — the
    // retrieval-index preprocessing step): chunk count is closed-form
    // from the token count, every chunk materializes with its start,
    // length, and an md5 content fingerprint the oracle replays
    // bit-for-bit. The tokenized frame is staged (one persist) so
    // projection collapse cannot re-inline the tokenizer into the
    // count, the chunk-index sequence, AND every slice; all work after
    // tokenization is per-row map-side — chunking shards embarrassingly
    // at any corpus size.
    QuerySpec(
      "tx33_chunk_overlap",
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |n AS (
         |  SELECT doc_id, toks, len(toks) AS nt,
         |    CASE WHEN len(toks) <= 64 THEN 1
         |      ELSE CAST(ceil((len(toks) - 64) / 48.0) AS BIGINT) + 1 END AS nc
         |  FROM t WHERE len(toks) > 0),
         |cl AS (
         |  SELECT doc_id, nt,
         |    list_transform(range(0, nc), i -> struct_pack(cid := i,
         |      st := 48 * i + 1,
         |      ch := list_slice(toks, 48 * i + 1, least(48 * i + 64, nt))))
         |      AS chunks
         |  FROM n)
         |SELECT doc_id, CAST(u.cid AS BIGINT) AS chunk_id,
         |  CAST(u.st AS BIGINT) AS chunk_start,
         |  CAST(len(u.ch) AS BIGINT) AS chunk_len,
         |  md5(array_to_string(u.ch, ' ')) AS chunk_md5
         |FROM (SELECT doc_id, nt, unnest(chunks) AS u FROM cl)""".stripMargin) {
      (s, dir) =>
      val tok = graft.Staging.persist(
        Tables.fanOut(Tables.documents(s, dir).select("doc_id", "text"))
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
          .where(size(col("toks")) > 0))
      val nc = when(size(col("toks")) <= 64, 1L).otherwise(
        ceil((size(col("toks")) - 64).cast("double") / 48.0).cast("long") + 1L)
      tok.select(col("doc_id"), col("toks"), nc.as("nc"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0L), col("nc") - 1)).as("cid"))
        .select(col("doc_id"), col("cid").as("chunk_id"),
          (col("cid") * 48 + 1).as("chunk_start"),
          slice(col("toks"), (col("cid") * 48 + 1).cast("int"), lit(64))
            .as("ch"))
        .select(col("doc_id"), col("chunk_id"), col("chunk_start"),
          size(col("ch")).cast("long").as("chunk_len"),
          md5(array_join(col("ch"), " ").cast("binary")).as("chunk_md5"))
    },
  )
}
