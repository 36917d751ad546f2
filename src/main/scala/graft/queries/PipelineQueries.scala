package graft.queries

import graft.{QuerySpec, Tables}
import graft.expressions.Hashing
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** North-star training-data pipeline operators over the `documents` and
  * `embeddings` tables: deduplication (exact → fingerprint → Jaccard →
  * MinHash-LSH → SimHash → embedding-cosine), similarity search (brute
  * force, SRP-LSH, IVF), text analysis (tokens, quality, language-ID,
  * fingerprints) and multimodal column plumbing.
  *
  * Oracle policy: everything expressible in ANSI SQL gets a DuckDB oracle
  * (including the exact-Jaccard and cosine pipelines — DuckDB list
  * functions mirror Spark's higher-order functions, and every hash the
  * pipelines key on is engine-portable: md5-derived shingle hashes,
  * SplitMix64-derived permutation/hyperplane coefficients rendered into
  * the SQL as literals). The xxhash64-seeded production variants of the
  * same pipelines stay out of the registry — they are covered by
  * planted-duplicate ScalaTest specs (DedupSpec/SimilaritySpec) and by
  * ScaleCheck, while the registry carries the portable twins so the
  * driver hash-verifies every stage, LSH banding and transitive closure
  * included.
  */
object PipelineQueries {

  /** Shared DuckDB fragment: tokenized lowercase words. */
  private val duckToks =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  // SRP-LSH oracle geometry — must match the annTopK calls below.
  private val srpDim = 64
  private val srpPlanes = 6
  private val srpTables = 4

  /** The SplitMix64-derived hyperplane weights as a DuckDB list-of-lists
    * literal — identical values to [[Similarity.annTopK]]'s plane
    * vectors (parity by construction). */
  private def srpWeights: String =
    (0 until srpTables * srpPlanes).map { plane =>
      (0 until srpDim).map(i =>
        (Hashing.splitmix64(plane.toLong * srpDim + i).toDouble / Long.MaxValue).toString)
        .mkString("[", ",", "]")
    }.mkString("[", ",\n    ", "]")

  /** DuckDB oracle for the SRP-LSH ANN pipeline: signatures via a
    * sequential left fold (≡ Spark `aggregate` HOF, so sign bits match
    * bit-for-bit), candidates within Hamming `maxHam` of the query
    * signature per table (0 = exact bucket probe, 1 = the 1-bit
    * multiprobe ring), exact-cosine scoring, then `tail` over the
    * `scored`/`base`/`qv` CTEs. */
  private def srpOracle(maxHam: Int, tail: String): String =
    s"""WITH wt AS (SELECT $srpWeights AS w),
       |base AS (SELECT vec_id, embedding FROM embeddings),
       |sigt AS (
       |  SELECT b.vec_id, tt.t,
       |    list_sum(list_transform(range(0, $srpPlanes), p ->
       |      CASE WHEN list_reduce(list_prepend(0.0,
       |             list_transform(range(1, ${srpDim + 1}),
       |               i -> b.embedding[i]::DOUBLE * (wt.w)[tt.t*$srpPlanes + p + 1][i])),
       |             (a, x) -> a + x) > 0
       |      THEN (1::BIGINT << p) ELSE 0 END)) AS sig
       |  FROM base b, wt, range(0, $srpTables) tt(t)),
       |qv AS (SELECT embedding FROM base WHERE vec_id = 0),
       |qs AS (SELECT t, sig FROM sigt WHERE vec_id = 0),
       |cand AS (SELECT DISTINCT s.vec_id
       |         FROM sigt s JOIN qs ON s.t = qs.t
       |           AND bit_count(xor(s.sig, qs.sig)) <= $maxHam),
       |scored AS (
       |  SELECT c.vec_id,
       |    round(list_cosine_similarity(b.embedding::DOUBLE[],
       |      (SELECT embedding FROM qv)::DOUBLE[]), 6) AS sim
       |  FROM cand c JOIN base b USING (vec_id))
       |$tail""".stripMargin

  private val srpTopKTail =
    "SELECT vec_id, sim FROM scored ORDER BY sim DESC, vec_id LIMIT 10"

  val specs: Seq[QuerySpec] = Seq(

    // --- deduplication ---

    // Exact dedup over a doubled corpus (simulating a re-crawl): every
    // content hash collapses to one keeper with multiplicity 2.
    QuerySpec(
      "dd1_dedup_exact",
      """SELECT md5(text) AS content_hash,
        |  CAST(count(*) AS BIGINT) AS n_copies,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id
        |FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Dedup.exactDupGroups(docs.unionByName(docs), "doc_id",
          md5(col("text").cast("binary")).as("content_hash"))
        .select(col("content_hash"), col("n_copies"), col("keep_id"))
    },

    // Fingerprint dedup: md5 of whitespace/punctuation-normalized text —
    // catches trivially reformatted duplicates exact dedup misses.
    QuerySpec(
      "dd2_dedup_fingerprint",
      """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.exactDupGroups(Tables.documents(s, dir), "doc_id",
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .select(col("fp"), col("n_copies").as("n_docs"), col("keep_id"))
    },

    // Exact word-set Jaccard near-dup pairs over a bounded slice — the
    // brute-force ground truth the LSH pipelines approximate.
    QuerySpec(
      "dd3_dedup_ngram_jaccard",
      s"""WITH s AS (
         |  SELECT doc_id, list_distinct($duckToks) AS toks
         |  FROM documents WHERE doc_id < 100)
         |SELECT id1, id2, jaccard FROM (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2,
         |    round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
         |          len(list_distinct(a.toks || b.toks)), 4) AS jaccard
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id) t
         |WHERE jaccard >= 0.9""".stripMargin) { (s, dir) =>
      Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).where(col("doc_id") < 100),
        "doc_id", "text", threshold = 0.9)
    },

    // Pairwise near-dups composed into dedup GROUPS: connected components
    // by iterative min-label propagation (Dedup.connectedComponents),
    // each doc labeled with the minimum reachable doc id = the canonical
    // keeper. The oracle rebuilds the same clusters with a recursive-CTE
    // transitive closure over the identical pair predicate.
    QuerySpec(
      "dd7_dedup_clusters",
      s"""WITH RECURSIVE s AS (
         |  SELECT doc_id, list_distinct($duckToks) AS toks
         |  FROM documents WHERE doc_id < 200),
         |p AS (
         |  SELECT id1, id2 FROM (
         |    SELECT a.doc_id AS id1, b.doc_id AS id2,
         |      round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
         |            len(list_distinct(a.toks || b.toks)), 4) AS jaccard
         |    FROM s a JOIN s b ON a.doc_id < b.doc_id) t
         |  WHERE jaccard >= 0.5),
         |e AS (SELECT id1 AS a, id2 AS b FROM p UNION SELECT id2, id1 FROM p),
         |reach(a, b) AS (
         |  SELECT a, b FROM e
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a""".stripMargin) { (s, dir) =>
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(
          Tables.documents(s, dir).where(col("doc_id") < 200),
          "doc_id", "text", threshold = 0.5),
        "id1", "id2")
    },

    // MinHash + banded LSH near-dup detection over the FULL corpus at
    // the production geometry (64 hashes / 8 bands — a tighter band
    // filter than dd9's 16/4 capped slice), every hash engine-portable,
    // so the whole sublinear path is hash-verified at this geometry too.
    // The xxhash64-seeded variant of the same pipeline is covered by
    // DedupSpec's planted duplicates.
    QuerySpec(
      "dd4_dedup_minhash_lsh",
      CurationQueries.minhashPortableOracle(k = 5, numHashes = 64,
        bands = 8, threshold = 0.8, maxDocId = Long.MaxValue)) { (s, dir) =>
      Dedup.minhashNearDupsPortable(Tables.documents(s, dir),
        "doc_id", "text", shingleK = 5, numHashes = 64, bands = 8,
        threshold = 0.8)
    },

    // The end-to-end dedup story at scale, composed from the sublinear
    // pieces: MinHash-LSH pair discovery over the FULL corpus at the
    // dd4 production geometry → connected components → one canonical
    // keeper per cluster with its size. Fully oracled, transitive
    // closure included (recursive CTE over the identical pair set).
    QuerySpec(
      "dd8_minhash_clusters",
      CurationQueries.minhashPortableOracle(k = 5, numHashes = 64,
        bands = 8, threshold = 0.8, maxDocId = Long.MaxValue,
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
      val pairs = Dedup.minhashNearDupsPortable(Tables.documents(s, dir),
        "doc_id", "text", shingleK = 5, numHashes = 64, bands = 8,
        threshold = 0.8)
      // cluster_id IS the minimum member id by connectedComponents'
      // contract — it doubles as the canonical keeper directly.
      Dedup.connectedComponents(pairs, "id1", "id2")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("cluster_id").as("keep_id"), col("n_docs"))
    },

    // Embedding-cosine near-dup pairs over a bounded slice (brute force;
    // ss6/ss3/ss8 are the sublinear alternatives).
    QuerySpec(
      "dd6_dedup_embedding_cosine",
      """SELECT id1, id2, cos_sim FROM (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[],
        |                                 b.embedding::DOUBLE[]), 6) AS cos_sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE a.vec_id < 300 AND b.vec_id < 300) t
        |WHERE cos_sim >= 0.4""".stripMargin) { (s, dir) =>
      Similarity.cosineNearDupPairs(
        Tables.embeddings(s, dir).where(col("vec_id") < 300),
        "vec_id", "embedding", threshold = 0.4)
    },

    // --- similarity search ---

    // Brute-force cosine top-k against the vec_id=0 query vector: the
    // exact baseline (one map-side cosine per row + top-k merge).
    QuerySpec(
      "ss1_cosine_topk",
      """SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[],
        |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 6) AS sim
        |FROM embeddings ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.where(col("vec_id") === 0), "embedding", k = 10)
    },

    // Multiprobe SRP-LSH: probes every 1-bit perturbation of the query
    // signatures — recall of a far larger table count at zero extra
    // data-side (map-side signature) cost. Measured (ScaleCheck, sf0.1):
    // 5/10 → 9/10 recall@10 at the same 6 planes × 4 tables. Fully
    // oracled: the Hamming-≤1 probe ring is one bit_count(xor) predicate
    // over the same replayed signatures as ss8 (the exact-probe twin).
    QuerySpec(
      "ss6_ann_multiprobe",
      srpOracle(maxHam = 1, tail = srpTopKTail)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.annTopK(emb, "vec_id", "embedding", dim = 64,
        emb.where(col("vec_id") === 0), "embedding", k = 10,
        nPlanes = 6, nTables = 4, multiprobe = true)
    },

    // IVF probe with the label column as coarse quantizer (fixed-point
    // per-label centroids, nProbe=2). Fully oracled: integer centroid
    // sums are order-independent (see Similarity.ivfTopK), so probe
    // choice and the exact rerank replay bit-for-bit in SQL.
    QuerySpec(
      "ss3_ann_ivf",
      """WITH d AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings
        |), c AS (
        |  SELECT label, i, sum(CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT)) AS s,
        |    count(*) AS n
        |  FROM d, range(1, 65) t(i) GROUP BY 1, 2
        |), cent AS (
        |  SELECT label, list((CAST(s AS DOUBLE) / 1000000.0) / n ORDER BY i) AS cv
        |  FROM c GROUP BY label
        |), q AS (SELECT v AS qv FROM d WHERE vec_id = 0),
        |probe AS (
        |  SELECT label FROM cent, q
        |  ORDER BY list_cosine_similarity(cv, qv) DESC, label LIMIT 2)
        |SELECT vec_id, label,
        |  round(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS sim
        |FROM d JOIN probe USING (label)
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, "vec_id", "embedding", "label",
        emb.where(col("vec_id") === 0), "embedding", k = 10, nProbe = 2)
    },

    // Matryoshka-truncation retrieval: rank the corpus against the
    // query by cosine over only the FIRST nd dimensions (8/16/64) — the
    // MRL deployment pattern where a prefix of the embedding serves as
    // its own lower-cost index. Emitting the top-10 per truncation
    // exposes ranking degradation as data (the 64-dim rows are ss1's
    // exact answer). Per-dimension work is one sliced fold map-side;
    // the only shuffle is the per-nd top-10 (WindowGroupLimit keeps it
    // a bounded per-partition heap, never a full sort).
    QuerySpec(
      "ss13_matryoshka_truncation",
      """WITH d AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM d WHERE vec_id = 0),
        |dims AS (SELECT unnest([8, 16, 64]) AS nd),
        |r AS (
        |  SELECT nd, vec_id,
        |    round(list_cosine_similarity(list_slice(v, 1, nd),
        |      list_slice(qv, 1, nd)), 6) AS sim
        |  FROM d, q, dims),
        |t AS (
        |  SELECT nd, vec_id, sim,
        |    row_number() OVER (PARTITION BY nd ORDER BY sim DESC, vec_id) AS rn
        |  FROM r)
        |SELECT CAST(nd AS BIGINT) AS nd, vec_id, sim
        |FROM t WHERE rn <= 10""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
      val scored = emb.crossJoin(broadcast(q))
        .select(col("vec_id"),
          explode(typedLit(Seq(8, 16, 64))).as("nd"), col("embedding"),
          col("qe"))
        .select(col("nd").cast("long").as("nd"), col("vec_id"),
          round(Similarity.cosine(
            slice(col("embedding"), lit(1), col("nd")),
            slice(col("qe"), lit(1), col("nd"))), 6).as("sim"))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy("nd").orderBy(col("sim").desc, col("vec_id"))))
        .where(col("rn") <= 10)
        .select("nd", "vec_id", "sim")
    },

    // Per-label centroids via the custom typed Aggregator (UDAF surface):
    // one dim-length buffer per label with map-side partial merge —
    // shuffles one buffer per (label, partition) instead of rows × dim
    // exploded tuples. Exploded per-dim means in the oracle.
    QuerySpec(
      "ss4_label_centroids",
      """SELECT label, CAST(i AS BIGINT) AS dim,
        |  round(avg(embedding[i]), 6) AS mean_x
        |FROM embeddings, range(1, 65) t(i)
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val vecMean = udaf(new graft.functions.VectorMean(64))
      Tables.embeddings(s, dir)
        .groupBy(col("label"))
        .agg(vecMean(col("embedding")).as("centroid"))
        .select(col("label"), posexplode(col("centroid")).as(Seq("pos", "x")))
        .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
          round(col("x"), 6).as("mean_x"))
    },

    // --- text analysis ---

    QuerySpec(
      "tx1_token_stats",
      s"""SELECT doc_id,
         |  CAST(len($duckToks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct($duckToks)) AS BIGINT) AS n_uniq,
         |  CAST(len(regexp_extract_all(text,
         |    '\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]')) AS BIGINT) AS n_subword
         |FROM documents""".stripMargin) { (s, dir) =>
      Tables.fanOut(Tables.documents(s, dir).select("doc_id", "text"))
        .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        size(array_distinct(TextAnalysis.tokens(col("text")))).cast("long").as("n_uniq"),
        TextAnalysis.subwordTokenCount(col("text")).cast("long").as("n_subword"))
    },

    // Ratios reported in integer basis points via floor(x*10000 + 0.5):
    // both engines compute the identical IEEE double, and the integer
    // conversion sidesteps round()'s half-way-tie divergence (Spark and
    // DuckDB disagreed on e.g. 0.86875 → .8687 vs .8688).
    QuerySpec(
      "tx2_quality_score",
      s"""WITH t AS (
         |  SELECT doc_id, text, $duckToks AS toks,
         |    CAST(length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
         |      / length(text) AS alpha,
         |    len(list_filter($duckToks, t -> list_contains(
         |      ['the','a','and','of','to','in','is','you','that','it'], t))) AS hits
         |  FROM documents WHERE length(text) > 0)
         |SELECT doc_id,
         |  CAST(floor(alpha * 10000 + 0.5) AS BIGINT) AS alpha_bp,
         |  CAST(floor(CASE WHEN len(toks) = 0 THEN 0.0
         |    ELSE CAST(hits AS DOUBLE) / len(toks) END * 10000 + 0.5) AS BIGINT) AS stopword_bp,
         |  CAST(floor((least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.3
         |    + alpha * 0.4
         |    + least(CASE WHEN len(toks) = 0 THEN 0.0
         |        ELSE CAST(hits AS DOUBLE) / len(toks) END * 5.0, 1.0) * 0.3) * 10000 + 0.5)
         |    AS BIGINT) AS quality_bp
         |FROM t""".stripMargin) { (s, dir) =>
      def bp(c: org.apache.spark.sql.Column) =
        floor(c * 10000 + 0.5).cast("long")
      Tables.fanOut(Tables.documents(s, dir).select("doc_id", "text"))
        .where(length(col("text")) > 0)
        .select(col("doc_id"),
          bp(TextAnalysis.alphaRatio(col("text"))).as("alpha_bp"),
          bp(TextAnalysis.stopwordRatio(col("text"))).as("stopword_bp"),
          bp(TextAnalysis.qualityScore(col("text"))).as("quality_bp"))
    },

    // Language-ID confusion counts against the labeled lang column.
    QuerySpec(
      "tx3_lang_id",
      s"""WITH t AS (
         |  SELECT lang, $duckToks AS toks,
         |    length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk
         |  FROM documents),
         |s AS (
         |  SELECT lang, cjk,
         |    len(list_filter(toks, t -> list_contains(['the','a','and','of','to','in','is','you','that','it'], t))) AS s_en,
         |    len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','un','ser','se','no'], t))) AS s_es,
         |    len(list_filter(toks, t -> list_contains(['der','die','und','den','von','zu','das','mit','sich','ist'], t))) AS s_de,
         |    len(list_filter(toks, t -> list_contains(['le','la','de','et','les','des','en','un','du','une'], t))) AS s_fr
         |  FROM t),
         |p AS (
         |  SELECT lang,
         |    CASE WHEN cjk > 0 THEN 'zh'
         |         WHEN s_en = greatest(s_en, s_es, s_de, s_fr) AND s_en > 0 THEN 'en'
         |         WHEN s_es = greatest(s_en, s_es, s_de, s_fr) AND s_es > 0 THEN 'es'
         |         WHEN s_de = greatest(s_en, s_es, s_de, s_fr) AND s_de > 0 THEN 'de'
         |         WHEN s_fr = greatest(s_en, s_es, s_de, s_fr) AND s_fr > 0 THEN 'fr'
         |         ELSE 'und' END AS pred_lang
         |  FROM s)
         |SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
         |FROM p GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.fanOut(Tables.documents(s, dir).select("lang", "text"))
        .select(col("lang"),
          TextAnalysis.tokens(col("text")).as("__toks"),
          TextAnalysis.cjkCharCount(col("text")).as("__cjk"))
        .select(col("lang"),
          TextAnalysis.langIdFromParts(col("__toks"), col("__cjk")).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
    },

    QuerySpec(
      "tx4_fingerprint_md5",
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables.fanOut(Tables.documents(s, dir).select("doc_id", "text"))
        .select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
    },

    // TF-IDF top terms per document — the relevance-scoring member of
    // the text family: explode → per-(doc,term) TF → per-term DF →
    // smoothed IDF (rounded to 6dp BEFORE the product so both engines
    // multiply identical doubles) → basis-point score → top-3 terms per
    // doc (row_number, term tie-break). The DF side is a tiny
    // (term, df) table: Catalyst broadcasts it back onto the TF rows.
    QuerySpec(
      "tx10_tfidf_topterms",
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM documents WHERE doc_id < 200),
        |tf AS (
        |  SELECT doc_id, unnest(toks) AS term FROM toks),
        |tfc AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY doc_id, term),
        |dfc AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM tfc GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM toks),
        |scored AS (
        |  SELECT t.doc_id, t.term,
        |    CAST(floor(t.tf * round(ln((n.n_docs + 1.0) / (d.df + 1.0)), 6) * 10000 + 0.5) AS BIGINT) AS score_bp
        |  FROM tfc t JOIN dfc d USING (term) CROSS JOIN n)
        |SELECT doc_id, term, score_bp FROM (
        |  SELECT doc_id, term, score_bp,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score_bp DESC, term) AS rn
        |  FROM scored) r
        |WHERE rn <= 3""".stripMargin) { (s, dir) =>
      // STAGED (round-18): `toks` feeds the TF explode AND the n_docs
      // count, and `tf` feeds the DF aggregate AND the scored join —
      // un-staged, the regex tokenization replayed ~3x per run.
      val toks = graft.Staging.persist(Tables.fanOut(
          Tables.documents(s, dir).where(col("doc_id") < 200).select("doc_id", "text"))
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks")))
      val tf = graft.Staging.persist(toks
        .select(col("doc_id"), explode_outer(col("toks")).as("term"))
        .where(col("term").isNotNull)
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
      val df = tf.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val nDocs = toks.select(countDistinct(col("doc_id")).as("n_docs"))
      val scored = tf.join(df, "term").crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("term"),
          floor(col("tf") * round(log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6) * 10000 + 0.5)
            .cast("long").as("score_bp"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("score_bp").desc, col("term"))
      scored.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("score_bp"))
    },

    // Readability statistics: sentence segmentation (terminator split) +
    // per-sentence and per-word densities, fixed-point projected. Both
    // array columns staged before use (HOF discipline).
    QuerySpec(
      "tx9_readability",
      """SELECT doc_id, n_sent, n_words,
        |  CAST(floor(CAST(n_words AS DOUBLE) / greatest(n_sent, 1) * 100 + 0.5) AS BIGINT) AS words_per_sent_c,
        |  CAST(floor(CAST(n_alpha AS DOUBLE) / greatest(n_words, 1) * 100 + 0.5) AS BIGINT) AS chars_per_word_c
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '[.!?]+'), s -> trim(s) <> '')) AS BIGINT) AS n_sent,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (a, b) -> a + b) AS BIGINT) AS n_alpha
        |  FROM (SELECT doc_id, text,
        |          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        |        FROM documents) s) m""".stripMargin) { (s, dir) =>
      Tables.fanOut(Tables.documents(s, dir).select("doc_id", "text"))
        .select(col("doc_id"),
          TextAnalysis.tokens(col("text")).as("toks"),
          filter(split(col("text"), "[.!?]+"), st => trim(st) =!= "").as("sents"))
        .select(col("doc_id"),
          size(col("sents")).cast("long").as("n_sent"),
          size(col("toks")).cast("long").as("n_words"),
          aggregate(transform(col("toks"), t => length(t)),
            lit(0), (a, b) => a + b).cast("long").as("n_alpha"))
        .select(col("doc_id"), col("n_sent"), col("n_words"),
          floor(col("n_words").cast("double") / greatest(col("n_sent"), lit(1L)) * 100 + 0.5)
            .cast("long").as("words_per_sent_c"),
          floor(col("n_alpha").cast("double") / greatest(col("n_words"), lit(1L)) * 100 + 0.5)
            .cast("long").as("chars_per_word_c"))
    },

    // 62-bit rolling token hash. The per-token seed is md5-derived
    // (TextAnalysis.tokenSeed) precisely so the whole fingerprint is
    // reproducible in DuckDB: list_reduce replays the same polynomial
    // fold, list_prepend supplies the 0 start value.
    QuerySpec(
      "tx5_fingerprint_rolling",
      """SELECT doc_id, p31 * 2147483648 + p131 AS fp64
        |FROM (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0, seeds), (acc, h) -> (acc * 31 + h) % 2147483647) AS p31,
        |    list_reduce(list_prepend(0, seeds), (acc, h) -> (acc * 131 + h) % 2147483647) AS p131
        |  FROM (
        |    SELECT doc_id,
        |      list_transform(
        |        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
        |        t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 2147483647) AS seeds
        |    FROM documents) tok
        |) polys""".stripMargin) { (s, dir) =>
      Tables.fanOut(Tables.documents(s, dir).select("doc_id", "text"))
        .select(col("doc_id"),
        TextAnalysis.rollingHash(col("text")).as("fp64"))
    },

    // Capstone composition — the actual corpus-curation shape: language
    // filter + quality floor + fingerprint dedup (keep lowest doc_id per
    // duplicate group), end to end in one declarative plan.
    QuerySpec(
      "tx6_curation_pipeline",
      s"""WITH scored AS (
         |  SELECT doc_id, lang, text,
         |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
         |    CAST(length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
         |      / length(text) AS alpha,
         |    len(list_filter($duckToks, t -> list_contains(
         |      ['the','a','and','of','to','in','is','you','that','it'], t))) AS hits,
         |    len($duckToks) AS n_toks
         |  FROM documents WHERE length(text) > 0),
         |quality AS (
         |  SELECT doc_id, lang, fp,
         |    least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.3
         |      + alpha * 0.4
         |      + least(CAST(hits AS DOUBLE) / n_toks * 5.0, 1.0) * 0.3 AS q,
         |    CASE WHEN hits > 0 THEN 1 ELSE 0 END AS en_hit
         |  FROM scored),
         |kept AS (
         |  SELECT doc_id, fp,
         |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |  FROM quality WHERE q >= 0.5 AND en_hit = 1)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id FROM kept WHERE rn = 1
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val scored = Tables.fanOut(Tables.documents(s, dir).select("doc_id", "lang", "text"))
        .where(length(col("text")) > 0)
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          TextAnalysis.qualityScore(col("text")).as("q"),
          TextAnalysis.stopwordRatio(col("text")).as("swr"))
      scored
        .where(col("q") >= 0.5 && col("swr") > 0)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
        .where(col("rn") === 1)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },

    // --- multimodal columns ---

    // Columnar payload stats — no decode needed (bytes stay in the scan).
    QuerySpec(
      "mm1_media_stats",
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents""".stripMargin) { (s, dir) =>
      Multimodal.attachFakeMedia(Tables.documents(s, dir))
        .select(col("doc_id"),
          octet_length(col("media")).cast("long").as("n_bytes"),
          md5(col("media")).as("digest"))
    },

    // Audio-shaped multimodal op: "PCM decode" stub (payload bytes as
    // 8-bit samples) → windowed RMS, the standard loudness feature.
    // All-integer window sums keep the double math order-independent, so
    // the oracle replays sample extraction (chars ≡ bytes: ASCII corpus)
    // and the RMS formula exactly.
    QuerySpec(
      "mm5_audio_rms",
      """WITH s AS (
        |  SELECT doc_id, list_transform(string_split(text, ''), c -> ascii(c)) AS smp
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, smp, unnest(range(0, len(smp) // 64)) AS w FROM s)
        |SELECT doc_id, CAST(w AS BIGINT) AS win,
        |  CAST(floor(sqrt(list_sum(list_transform(
        |      list_slice(smp, w*64 + 1, w*64 + 64), x -> x*x)) / 64.0) * 100 + 0.5)
        |    AS BIGINT) AS rms_c
        |FROM w""".stripMargin) { (s, dir) =>
      Multimodal.attachFakeMedia(Tables.fanOut(Tables.documents(s, dir)))
        .select(col("doc_id"), Multimodal.pcmSamples(col("media")).as("smp"))
        .select(col("doc_id"), Multimodal.windowRms(col("smp"), 64).as("rms"))
        .select(col("doc_id"), posexplode_outer(col("rms")).as(Seq("win", "rms_c")))
        .where(col("rms_c").isNotNull)
        .select(col("doc_id"), col("win").cast("long").as("win"), col("rms_c"))
    },

    // The exact-bucket SRP-LSH probe (the ss6 multiprobe's 0-Hamming
    // twin), fully oracled: the SplitMix64-derived hyperplane weights
    // are rendered into the SQL as a list-of-lists literal, and the
    // projection is a sequential left fold on both sides (Spark
    // `aggregate` HOF ≡ DuckDB `list_reduce` with prepended zero), so
    // the sign bits — and therefore buckets, candidates, and the
    // reranked top-k — are bit-identical.
    QuerySpec(
      "ss8_ann_srp_oracled",
      srpOracle(maxHam = 0, tail = srpTopKTail)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.annTopK(emb, "vec_id", "embedding", dim = 64,
        emb.where(col("vec_id") === 0), "embedding", k = 10,
        nPlanes = 6, nTables = 4)
    },

    // ANN quality, measured in-harness: recall@10 of the multiprobe
    // SRP-LSH path against the brute-force ground truth. Fully oracled —
    // both the truth set and the ANN set replay in SQL, so the recall
    // number itself is hash-compared (SimilaritySpec still asserts the
    // ≥8/10 floor as a regression gate).
    QuerySpec(
      "ss7_ann_recall",
      srpOracle(maxHam = 1, tail =
        """, ann AS (SELECT vec_id FROM scored ORDER BY sim DESC, vec_id LIMIT 10),
          |truth AS (SELECT vec_id FROM (
          |  SELECT b.vec_id,
          |    round(list_cosine_similarity(b.embedding::DOUBLE[],
          |      (SELECT embedding FROM qv)::DOUBLE[]), 6) AS sim
          |  FROM base b) t
          |  ORDER BY sim DESC, vec_id LIMIT 10)
          |SELECT CAST(10 AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_hits,
          |  CAST(count(*) * 100 / 10 AS BIGINT) AS recall_pct
          |FROM truth JOIN ann USING (vec_id)""".stripMargin)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") === 0)
      val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        q, "embedding", k = 10).select(col("vec_id"))
      val ann = Similarity.annTopK(emb, "vec_id", "embedding", dim = 64,
        q, "embedding", k = 10, nPlanes = 6, nTables = 4, multiprobe = true)
        .select(col("vec_id"))
      truth.join(ann, "vec_id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(10L).as("k"), col("n_hits"),
          (col("n_hits") * 100 / 10).cast("long").as("recall_pct"))
    },

    // Multimodal retrieval end to end: decode stub → feature vectors →
    // batched knn join over the features (Similarity.knnJoin's map-side
    // bounded top-k). Fully oracled: the oracle recomputes the stub's
    // byte-histogram features in FLOAT (DuckDB float division is
    // bit-identical to the JVM's), then replays the knn ranking as a
    // window over exact cosines — decode, features, and retrieval all
    // hash-compared.
    QuerySpec(
      "mm4_media_feature_knn",
      """WITH f AS (
        |  SELECT doc_id, list_transform(range(0, 8),
        |      b -> CAST(len(list_filter(
        |             list_transform(string_split(text, ''), c -> ascii(c) % 8),
        |             x -> x = b)) AS FLOAT)
        |           / CAST(greatest(length(text), 1) AS FLOAT)) AS feat
        |  FROM documents),
        |q AS (SELECT doc_id AS qid, feat AS qf FROM f WHERE doc_id < 3),
        |b AS (SELECT doc_id, feat FROM f WHERE doc_id >= 10),
        |s AS (SELECT q.qid, b.doc_id,
        |        round(list_cosine_similarity(b.feat::DOUBLE[], q.qf::DOUBLE[]), 6) AS sim
        |      FROM b, q),
        |r AS (SELECT qid, doc_id, sim,
        |        CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, doc_id)
        |          AS BIGINT) AS rank
        |      FROM s)
        |SELECT qid, doc_id, sim, rank FROM r WHERE rank <= 3""".stripMargin) { (s, dir) =>
      val feats = Multimodal.mediaFeatureTable(Tables.documents(s, dir))
        .select(col("doc_id"), col("features"))
      Similarity.knnJoin(
        feats.where(col("doc_id") >= 10), "doc_id", "features",
        feats.where(col("doc_id") < 3), "doc_id", "features", k = 3)
    },

    // REAL image decode (`javax.imageio`, the pure-JVM PNG codec this
    // container ships — the one multimodal lane with no stub anywhere):
    // each doc gets a deterministic synthetic PNG whose pixels are a
    // closed form of doc_id (r = d%200 + x, g = d%150 + y, b = d%97,
    // size (8 + d%5) × (6 + d%4); gradients bounded under 256 so no
    // channel wraps), encoded on executors, decoded BACK from the
    // compressed bytes, and reduced to pixel-exact per-channel sums.
    // The oracle never decodes — it recomputes the closed forms
    // (Σr = h·(w·rb + w(w−1)/2) etc.), so a codec that misreads a
    // single pixel anywhere in the corpus breaks the hash.
    QuerySpec(
      "mm10_imageio_decode",
      """WITH g AS (
        |  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h,
        |    doc_id % 200 AS rb, doc_id % 150 AS gb, doc_id % 97 AS bb
        |  FROM documents)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(h * (w * rb + w * (w - 1) / 2) AS BIGINT) AS sum_r,
        |  CAST(w * (h * gb + h * (h - 1) / 2) AS BIGINT) AS sum_g,
        |  CAST(w * h * bb AS BIGINT) AS sum_b
        |FROM g""".stripMargin) { (s, dir) =>
      Multimodal.imageFeatureTable(Tables.documents(s, dir))
        .select(col("doc_id"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"))
    },

    // REAL audio decode (`javax.sound.sampled` WAV container IO — the
    // audio twin of mm10, no stub anywhere): per doc a deterministic
    // 16-bit mono PCM sawtooth (s(i) = (i·k mod 2a) − a, a = d%1000+1,
    // k = d%7+1, n = 64 + d%32 samples) is encoded into a real
    // RIFF/WAVE container on executors, decoded BACK from the container
    // bytes, and reduced to integer-exact sample sum and energy. The
    // oracle recomputes the closed forms over an explicit sample list —
    // one mis-decoded sample anywhere breaks the hash.
    QuerySpec(
      "mm11_wav_decode",
      """WITH g AS (
        |  SELECT doc_id, 64 + doc_id % 32 AS n,
        |    doc_id % 1000 + 1 AS a, doc_id % 7 + 1 AS k
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n,
        |    list_transform(range(0, n), i -> (i * k) % (2 * a) - a) AS smp
        |  FROM g)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(list_sum(smp) AS BIGINT) AS sum_s,
        |  CAST(list_sum(list_transform(smp, x -> x * x)) AS BIGINT) AS sum_sq
        |FROM s""".stripMargin) { (s, dir) =>
      Multimodal.audioFeatureTable(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_samples"), col("sum_s"), col("sum_sq"))
    },

    // REAL multi-frame decode (animated GIF via `javax.imageio` —
    // mm10's recipe extended to the VIDEO shape): per doc a
    // deterministic synthetic animation (n = 3 + d%4 grayscale frames,
    // frame f's pixels a closed form of (d, f) — see
    // Multimodal.syntheticGif) is encoded as a real multi-frame GIF on
    // executors, decoded BACK frame by frame, and reduced to per-frame
    // exact pixel sums; frame SAMPLING (every 2nd decoded frame) and
    // SCENE-CUT detection (consecutive-frame distance > 10·w·h, i.e. a
    // mean per-pixel jump > 10) then run over the decoded sequence as
    // in-row HOFs — mm3/mm6's semantics re-based from the byte-stride
    // stub onto real decoded frames. The oracle recomputes every
    // closed form without decoding: one mis-read pixel in any frame
    // anywhere breaks the hash.
    QuerySpec(
      "mm12_gif_scene_cut",
      """WITH g AS (
        |  SELECT doc_id, 3 + doc_id % 4 AS n, 8 + doc_id % 3 AS w,
        |    6 + doc_id % 2 AS h, doc_id % 100 AS base, doc_id % 9 + 1 AS k
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n, w, h,
        |    list_transform(range(0, n), f ->
        |      w * h * (base + (f * f * k) % 50)
        |        + h * (w * (w - 1) // 2) + w * (h * (h - 1) // 2)) AS sums
        |  FROM g),
        |c AS (
        |  SELECT doc_id, n, sums,
        |    list_filter(range(1, n),
        |      f -> abs(sums[f + 1] - sums[f]) > 10 * w * h) AS cuts
        |  FROM s)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_frames,
        |  CAST(list_sum(sums) AS BIGINT) AS sum_all,
        |  CAST(list_sum(list_transform(range(0, (n + 1) // 2),
        |    i -> sums[2 * i + 1])) AS BIGINT) AS sum_sampled,
        |  len(cuts)::BIGINT AS n_cuts,
        |  CAST(coalesce(list_min(cuts), 0) AS BIGINT) AS first_cut
        |FROM c""".stripMargin) { (s, dir) =>
      val frames = Multimodal.gifFrameTable(Tables.documents(s, dir))
      val thr = lit(10L) * col("width") * col("height")
      frames
        .select(col("doc_id"), col("n_frames"), col("frame_sums"),
          filter(sequence(lit(1L), col("n_frames") - 1),
            f => abs(element_at(col("frame_sums"), (f + 1).cast("int"))
              - element_at(col("frame_sums"), f.cast("int"))) > thr)
            .as("cuts"))
        .select(col("doc_id"), col("n_frames"),
          aggregate(col("frame_sums"), lit(0L), _ + _).as("sum_all"),
          aggregate(filter(col("frame_sums"),
            (_, i) => i % 2 === 0), lit(0L), _ + _).as("sum_sampled"),
          size(col("cuts")).cast("long").as("n_cuts"),
          coalesce(array_min(col("cuts")), lit(0L)).as("first_cut"))
    },

    // TILE EXTRACTION on the real PNG codec (mm7's patch semantics,
    // stub retired): the mm10 synthetic image decodes back and cuts
    // into a 4x4-pixel grid (edges clipped), each tile reduced to
    // exact channel sums, the row carrying a POSITION-WEIGHTED
    // checksum over the grid — so a wrong grid shape, swapped tiles,
    // or mis-clipped edges change the answer even when whole-image
    // totals are untouched. The oracle recomputes every tile's sums
    // from the gradient closed forms with a nested list comprehension
    // — never decoding a byte.
    QuerySpec(
      "mm13_png_tiles",
      """WITH g AS (
        |  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h,
        |    doc_id % 200 AS rb, doc_id % 150 AS gb, doc_id % 97 AS bb,
        |    (8 + doc_id % 5 + 3) // 4 AS ntx,
        |    (6 + doc_id % 4 + 3) // 4 AS nty
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, ntx * nty AS n_tiles,
        |    flatten(list_transform(range(0, ntx), i ->
        |      list_transform(range(0, nty), j -> {
        |        'wt': (i + 1) * (j + 1),
        |        'sr': (least(4*j+4, h) - 4*j)
        |          * ((least(4*i+4, w) - 4*i) * (rb + 4*i)
        |            + (least(4*i+4, w) - 4*i)
        |              * ((least(4*i+4, w) - 4*i) - 1) // 2),
        |        'sg': (least(4*i+4, w) - 4*i)
        |          * ((least(4*j+4, h) - 4*j) * (gb + 4*j)
        |            + (least(4*j+4, h) - 4*j)
        |              * ((least(4*j+4, h) - 4*j) - 1) // 2),
        |        'sb': (least(4*i+4, w) - 4*i) * (least(4*j+4, h) - 4*j) * bb
        |      }))) AS tiles
        |  FROM g)
        |SELECT doc_id, CAST(n_tiles AS BIGINT) AS n_tiles,
        |  CAST(list_sum(list_transform(tiles,
        |    t -> t.wt * (t.sr + 2 * t.sg + 3 * t.sb))) AS BIGINT)
        |    AS tile_checksum,
        |  CAST(list_max(list_transform(tiles, t -> t.sr)) AS BIGINT)
        |    AS max_tile_r
        |FROM s""".stripMargin) { (s, dir) =>
      Multimodal.tileFeatureTable(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_tiles"), col("tile_checksum"),
          col("max_tile_r"))
    },

    // Decode + feature extraction through the mapPartitions stub (real
    // plumbing, stubbed codec — see Multimodal.decodeFeatures). The
    // payload checksum is a mod-2^63 byte fold the oracle replays over
    // the ASCII corpus with HUGEINT intermediates (BIGINT would overflow
    // at the *31 step, and DuckDB errors rather than wraps).
    QuerySpec(
      "mm2_media_features",
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
        |  CAST(list_reduce(list_prepend(0::HUGEINT,
        |         list_transform(string_split(text, ''), c -> ascii(c)::HUGEINT)),
        |       (a, b) -> (a * 31 + b) % 9223372036854775808::HUGEINT) AS BIGINT) AS checksum
        |FROM documents""".stripMargin) { (s, dir) =>
      Multimodal.mediaFeatureTable(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_bytes"), col("checksum"))
    }
  )
}
