package graft.queries

import graft.{QuerySpec, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Round-5 semantic-clustering surface: deterministic Lloyd's k-means
  * over the embeddings table and SemDeDup-style within-cluster
  * near-duplicate pruning built on it (Abbas et al. 2023 shape:
  * coarse-cluster first, exact cosine only inside each cluster).
  *
  * Both specs are fully DuckDB-oracled — the k-means trajectory is
  * deterministic (fixed seed = vectors of the k smallest ids, no RNG),
  * distances are sequential folds, and centroid updates fix the point
  * (×10⁹) before the per-cluster sum, so all 5 iterations replay
  * bit-for-bit in a recursive CTE carrying the centroid matrix as a
  * LIST of DOUBLE[] (the q94 PageRank recipe at matrix rank).
  */
object SemanticQueries {

  /** Shared recursive k-means CTE prefix (k=8, dims=64, 5 iterations,
    * fp=1e9) ending with `fin` (final centroids) — the SQL twin of
    * [[Similarity.kmeans]] on the embeddings table. */
  private val kmeansSql =
    """pts_t AS (
      |  SELECT list(list_transform(embedding, x -> x::DOUBLE) ORDER BY vec_id) AS pts,
      |    list(list_transform(embedding,
      |      x -> CAST(floor(x::DOUBLE * 1e9 + 0.5) AS BIGINT)) ORDER BY vec_id) AS fpts,
      |    list(vec_id ORDER BY vec_id) AS ids
      |  FROM embeddings
      |), params AS (SELECT len(pts)::BIGINT AS n FROM pts_t),
      |km AS (
      |  SELECT 0 AS it, pts[1:8] AS cents FROM pts_t
      |  UNION ALL
      |  SELECT it + 1,
      |    list_transform(range(1, 9), j ->
      |      CASE WHEN cnt[j] > 0
      |      THEN list_transform(range(1, 65), d ->
      |        (CAST(list_reduce(list_prepend(0::BIGINT,
      |           list_transform(range(1, n + 1), i ->
      |             CASE WHEN assign[i] = j - 1 THEN fpts[i][d] ELSE 0::BIGINT END)),
      |           (a, b) -> a + b) AS DOUBLE) / cnt[j]) / 1e9)
      |      ELSE cents[j] END)
      |  FROM (
      |    SELECT it, cents, assign,
      |      list_transform(range(0, 8), j -> len(list_filter(assign, a -> a = j))) AS cnt
      |    FROM (
      |      SELECT it, cents,
      |        list_transform(pts, p ->
      |          (list_reduce(
      |            list_transform(range(1, 9), j2 -> {'d':
      |               list_reduce(list_prepend(0.0,
      |                 list_transform(range(1, 65), t ->
      |                   (p[t] - cents[j2][t]) * (p[t] - cents[j2][t]))),
      |                 (a, b) -> a + b),
      |              'j': j2 - 1}),
      |            (acc, e) -> CASE WHEN e.d < acc.d THEN e ELSE acc END)).j) AS assign
      |      FROM km, pts_t WHERE it < 5)
      |  ) stepped, pts_t, params
      |), fin AS (SELECT cents FROM km WHERE it = 5),
      |asg AS (
      |  SELECT ids[i] AS id, struct_extract(best, 'j') AS cluster,
      |    CAST(floor(struct_extract(best, 'd') * 1e6 + 0.5) AS BIGINT) AS d2_ppm
      |  FROM (
      |    SELECT i, ids, list_reduce(
      |      list_transform(range(1, 9), j2 -> {'d':
      |         list_reduce(list_prepend(0.0,
      |           list_transform(range(1, 65), t ->
      |             (pts[i][t] - cents[j2][t]) * (pts[i][t] - cents[j2][t]))),
      |           (a, b) -> a + b),
      |        'j': j2 - 1}),
      |      (acc, e) -> CASE WHEN e.d < acc.d THEN e ELSE acc END) AS best
      |    FROM (SELECT unnest(range(1, n + 1)) AS i FROM params), pts_t, fin))""".stripMargin

  def specs: Seq[QuerySpec] = Seq(

    // Five deterministic Lloyd's iterations, k=8, over all embeddings:
    // final cluster assignment + squared distance (ppm) per vector.
    QuerySpec(
      "q100_kmeans",
      s"""WITH RECURSIVE $kmeansSql
        |SELECT id, cluster, d2_ppm FROM asg""".stripMargin) { (s, dir) =>
      Similarity.kmeans(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 8, iterations = 5)
    },

    // SemDeDup: exact cosine near-duplicate candidates evaluated ONLY
    // within a k-means cluster (the coarse quantizer bounds the
    // quadratic search), then one keep/drop decision per duplicate:
    // keep the smallest candidate id. The cluster-equality join key IS
    // the scale story — brute force runs per cluster, never corpus-wide.
    QuerySpec(
      "dd14_semantic_dedup",
      s"""WITH RECURSIVE $kmeansSql,
        |pairs AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[],
        |                                 b.embedding::DOUBLE[]), 6) AS cs
        |  FROM embeddings a
        |  JOIN asg ca ON ca.id = a.vec_id
        |  JOIN asg cb ON ca.cluster = cb.cluster
        |  JOIN embeddings b ON b.vec_id = cb.id AND a.vec_id < b.vec_id)
        |SELECT id2 AS drop_id, min(id1) AS keep_id,
        |  count(*)::BIGINT AS n_cands, max(cs) AS max_sim
        |FROM pairs WHERE cs >= 0.4 GROUP BY id2""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val asg = Similarity.kmeans(emb, "vec_id", "embedding",
        k = 8, iterations = 5)
      // Staged (round-17 optimization pass): both sides of the
      // within-cluster self-join need (id, cluster, vector); un-staged,
      // the k-distance assignment pass and the embedding join ran twice.
      val withC = graft.Staging.persist(emb.join(asg, emb("vec_id") === asg("id"))
        .select(col("vec_id"), col("cluster"), col("embedding")))
      val l = withC.select(col("vec_id").as("id1"), col("cluster").as("c1"),
        col("embedding").as("v1"))
      val r = withC.select(col("vec_id").as("id2"), col("cluster").as("c2"),
        col("embedding").as("v2"))
      l.join(r, col("id1") < col("id2") && col("c1") === col("c2"))
        .select(col("id1"), col("id2"),
          round(Similarity.cosineFast(col("v1"), col("v2")), 6).as("cs"))
        .where(col("cs") >= 0.4)
        .groupBy(col("id2").as("drop_id"))
        .agg(min(col("id1")).as("keep_id"),
          count(lit(1)).as("n_cands"), max(col("cs")).as("max_sim"))
    },

    // Johnson–Lindenstrauss random projection 64 → 16 dims: a fixed ±1
    // matrix (SplitMix64-derived, shared with the oracle by literal
    // interpolation — the ss8 recipe) applied to fixed-point vectors.
    // Everything after the 1e6 quantization is INTEGER arithmetic, so
    // the projection is exact on both engines. The dimensionality
    // reduction that makes downstream ANN/clustering 4× cheaper per
    // vector at 100 TB; map-side only, no shuffle, no UDF.
    QuerySpec(
      "ss10_random_projection",
      {
        val m = Array.tabulate(16, 64) { (j, d) =>
          if ((graft.expressions.Hashing.splitmix64(j * 64L + d) & 1L) == 0L) 1L else -1L
        }
        // The ±1 matrix as a 1024-row (j, d, m) relation: the projection
        // is then one vectorized join + sum-groupBy. The nested-lambda
        // formulation (`(m)[j][d]` indexed inside list_transform)
        // re-materialized the 16×64 literal per element and measured
        // ~110 s in DuckDB at sf0.01 — an oracle-budget hazard.
        val coefRows = (for (j <- 0 until 16; d <- 0 until 64)
          yield s"(${j + 1}, ${d + 1}, ${m(j)(d)})").mkString(", ")
        s"""WITH coef(j, d, m) AS MATERIALIZED (VALUES $coefRows
           |), xfrow AS MATERIALIZED (
           |  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
           |    CAST(floor(unnest(embedding)::DOUBLE * 1000000.0 + 0.5) AS BIGINT) AS x
           |  FROM embeddings)
           |SELECT f.vec_id, c.j, CAST(sum(f.x * c.m) AS BIGINT) AS y
           |FROM xfrow f JOIN coef c ON c.d = f.d
           |GROUP BY 1, 2""".stripMargin
      }) { (s, dir) =>
      val m = Array.tabulate(16, 64) { (j, d) =>
        if ((graft.expressions.Hashing.splitmix64(j * 64L + d) & 1L) == 0L) 1L else -1L
      }
      val mLit = typedLit(m.map(_.toSeq).toSeq)
      val xf = Tables.fanOut(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))
        .select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1000000.0 + 0.5).cast("long")).as("xf"))
      xf.select(col("vec_id"),
        posexplode(transform(sequence(lit(1), lit(16)), j =>
          aggregate(
            zip_with(col("xf"), element_at(mLit, j), (a, b) => a * b),
            lit(0L), (acc, v) => acc + v))).as(Seq("j0", "y")))
        .select(col("vec_id"), (col("j0") + 1).as("j"), col("y"))
    },
  )
}
