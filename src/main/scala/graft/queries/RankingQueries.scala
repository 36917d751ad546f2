package graft.queries

import graft.{QuerySpec, Tables}
import graft.operators.TextAnalysis
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 ranking / featurization surface: BM25 relevance scoring,
  * hashing-trick featurization, Markov event-transition estimation, and
  * per-dimension embedding standardization — the retrieval and
  * feature-engineering primitives of a training-data pipeline, each
  * with a complete DuckDB hash oracle.
  *
  * Determinism contract (same discipline as [[QualityQueries]]): every
  * cross-row aggregation is over exact integers (counts or fixed-point
  * projections), and every floating-point formula is written with the
  * identical operation order on both engines, so IEEE evaluation
  * reproduces bit-for-bit; only `ln` outputs are rounded (libm ULP).
  */
object RankingQueries {

  private val duckToks =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  /** BM25 query terms — high-frequency corpus vocabulary so tf/df are
    * non-trivial at every SF. */
  private val bm25Terms = Seq("join", "hash", "vector")

  def specs: Seq[QuerySpec] = Seq(

    // BM25 (k1=1.2, b=0.75) of every document against a fixed 3-term
    // query. Corpus stats (N, Σdl, df per term) come from ONE auxiliary
    // aggregation broadcast back as a single row — the scan stays
    // parallel and nothing wide shuffles. tf/dl/df are exact integers;
    // the score formula is written with identical operation order on
    // both engines (idf's ln is the only libm call, absorbed by the
    // 4 dp rounding).
    QuerySpec(
      "tx21_bm25",
      s"""WITH staged AS (
         |  SELECT doc_id, $duckToks AS toks FROM documents
         |), per AS (
         |  SELECT doc_id, len(toks)::BIGINT AS dl,
         |    len(list_filter(toks, x -> x = 'join'))::BIGINT AS tf1,
         |    len(list_filter(toks, x -> x = 'hash'))::BIGINT AS tf2,
         |    len(list_filter(toks, x -> x = 'vector'))::BIGINT AS tf3
         |  FROM staged
         |), stats AS (
         |  SELECT count(*)::DOUBLE AS n, sum(dl)::DOUBLE AS sumdl,
         |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
         |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2,
         |    sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df3
         |  FROM per)
         |SELECT doc_id, dl, tf1, tf2, tf3,
         |  round(
         |    ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0)
         |      * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * (dl / (sumdl / n))))
         |    + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0)
         |      * (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * (dl / (sumdl / n))))
         |    + ln((n - df3 + 0.5) / (df3 + 0.5) + 1.0)
         |      * (tf3 * 2.2) / (tf3 + 1.2 * (0.25 + 0.75 * (dl / (sumdl / n)))), 4) AS bm25
         |FROM per, stats""".stripMargin) { (s, dir) =>
      val staged = Tables.fanOut(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      val per = staged.select(
        col("doc_id"), size(col("toks")).cast("long").as("dl"),
        size(filter(col("toks"), x => x === bm25Terms(0))).cast("long").as("tf1"),
        size(filter(col("toks"), x => x === bm25Terms(1))).cast("long").as("tf2"),
        size(filter(col("toks"), x => x === bm25Terms(2))).cast("long").as("tf3"))
      val stats = per.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("dl")).cast("double").as("sumdl"),
        sum(when(col("tf1") > 0, 1L).otherwise(0L)).cast("double").as("df1"),
        sum(when(col("tf2") > 0, 1L).otherwise(0L)).cast("double").as("df2"),
        sum(when(col("tf3") > 0, 1L).otherwise(0L)).cast("double").as("df3"))
      // Per-term BM25 contribution with the oracle's exact parenthesization.
      def term(tf: String, df: String) =
        log((col("n") - col(df) + 0.5) / (col(df) + 0.5) + 1.0) *
          (col(tf) * 2.2) /
          (col(tf) + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / (col("sumdl") / col("n")))))
      per.crossJoin(broadcast(stats))
        .select(col("doc_id"), col("dl"), col("tf1"), col("tf2"), col("tf3"),
          round(term("tf1", "df1") + term("tf2", "df2") + term("tf3", "df3"), 4)
            .as("bm25"))
    },

    // Hashing-trick featurization (Weinberger et al. 2009): every token
    // hashes to one of 64 buckets with a ±1 sign bit from the same
    // portable hash; per-(doc, bucket) weights are signed counts. The
    // sparse output IS the feature matrix — no vocabulary, no broadcast
    // dictionary, one explode + one aggregation at any corpus size.
    QuerySpec(
      "tx22_feature_hashing",
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '')) AS t
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 2147483647 AS hv
        |  FROM toks)
        |SELECT doc_id, hv % 64 AS bucket,
        |  CAST(sum(CASE WHEN (hv // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS w,
        |  count(*)::BIGINT AS n_toks
        |FROM h GROUP BY doc_id, hv % 64""".stripMargin) { (s, dir) =>
      val toks = Tables.fanOut(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("t"))
      toks
        .select(col("doc_id"), TextAnalysis.tokenSeed(col("t")).as("hv"))
        .groupBy(col("doc_id"), pmod(col("hv"), lit(64L)).as("bucket"))
        .agg(sum(when(pmod(expr("hv DIV 64"), lit(2L)) === 0, 1L)
          .otherwise(-1L)).as("w"),
          count(lit(1)).as("n_toks"))
    },

    // First-order Markov transition matrix over the event stream:
    // next-event-type estimation per user timeline (lag window), counts
    // and fixed-point probabilities per source state. The windowed lag
    // partitions by user — the log-wide shuffle is on user_id, never a
    // global sort; transition totals broadcast back as a 5-row table.
    QuerySpec(
      "tx23_event_transitions",
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events
        |), pairs AS (
        |  SELECT prev_type, event_type, count(*)::BIGINT AS n
        |  FROM seq WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, event_type
        |), tot AS (
        |  SELECT prev_type, sum(n) AS t FROM pairs GROUP BY prev_type)
        |SELECT p.prev_type, p.event_type, p.n,
        |  CAST(floor(p.n::DOUBLE / t.t * 10000 + 0.5) AS BIGINT) AS p_bp
        |FROM pairs p JOIN tot t USING (prev_type)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          lag(col("event_type"), 1).over(w).as("prev_type"))
        .where(col("prev_type").isNotNull)
        .groupBy("prev_type", "event_type")
        .agg(count(lit(1)).as("n"))
      val tot = pairs.groupBy("prev_type").agg(sum(col("n")).as("t"))
      pairs.join(broadcast(tot), "prev_type")
        .select(col("prev_type"), col("event_type"), col("n"),
          floor(col("n").cast("double") / col("t") * 10000 + 0.5)
            .cast("long").as("p_bp"))
    },

    // Per-dimension z-score standardization of the embedding matrix —
    // the feature-scaling pass before clustering/ANN. Column stats come
    // from EXACT integer sums of fixed-point values (Σx, Σx² at 1e6 /
    // 1e12 scale — immune to partial-aggregation order), the z transform
    // is IEEE-identical arithmetic on both engines, and the per-vector
    // digest is again an integer sum. Stats join back via broadcast
    // (64 rows — one per dimension).
    QuerySpec(
      "q101_embed_znorm",
      """WITH ex AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
        |    CAST(floor(unnest(embedding)::DOUBLE * 1000000.0 + 0.5) AS BIGINT) AS xf
        |  FROM embeddings
        |), stats AS (
        |  SELECT d, count(*)::BIGINT AS n, sum(xf)::BIGINT AS s1,
        |    sum(xf * xf)::BIGINT AS s2
        |  FROM ex GROUP BY d
        |), m1 AS (
        |  SELECT d, n, s2, (s1::DOUBLE / 1000000.0) / n AS mean FROM stats
        |), m2 AS (
        |  SELECT d, mean,
        |    sqrt(greatest((s2::DOUBLE / 1000000000000.0) / n - mean * mean, 0.0))
        |      AS sd
        |  FROM m1)
        |SELECT vec_id,
        |  CAST(sum(CAST(floor(CASE WHEN sd > 0
        |    THEN ((xf::DOUBLE / 1000000.0) - mean) / sd ELSE 0.0 END
        |    * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS zsum,
        |  CAST(sum(abs(CAST(floor(CASE WHEN sd > 0
        |    THEN ((xf::DOUBLE / 1000000.0) - mean) / sd ELSE 0.0 END
        |    * 10000.0 + 0.5) AS BIGINT))) AS BIGINT) AS zabs
        |FROM ex JOIN m2 USING (d)
        |GROUP BY vec_id""".stripMargin) { (s, dir) =>
      // STAGED (round-18): the exploded (vec_id, d, xf) matrix feeds the
      // per-dimension stats AND the final z join; un-staged each side
      // replayed the fanOut repartition + posexplode.
      val ex = graft.Staging.persist(Tables.fanOut(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))
        .select(col("vec_id"),
          posexplode_outer(col("embedding")).as(Seq("d0", "x")))
        .select(col("vec_id"), (col("d0") + 1).as("d"),
          floor(col("x").cast("double") * 1000000.0 + 0.5).cast("long").as("xf")))
      val stats = ex.groupBy("d").agg(
        count(lit(1)).as("n"), sum(col("xf")).as("s1"),
        sum(col("xf") * col("xf")).as("s2"))
      val m = stats
        .select(col("d"), col("n"), col("s2"),
          (col("s1").cast("double") / 1000000.0 / col("n")).as("mean"))
        .select(col("d"), col("mean"),
          sqrt(greatest(
            col("s2").cast("double") / 1000000000000.0 / col("n")
              - col("mean") * col("mean"), lit(0.0))).as("sd"))
      val z = when(col("sd") > 0,
        (col("xf").cast("double") / 1000000.0 - col("mean")) / col("sd"))
        .otherwise(lit(0.0))
      val zfix = floor(z * 10000.0 + 0.5).cast("long")
      ex.join(broadcast(m), "d")
        .groupBy("vec_id")
        .agg(sum(zfix).as("zsum"), sum(abs(zfix)).as("zabs"))
    },
  )
}
