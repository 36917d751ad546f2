package graft.operators

import graft.expressions.NearestCentroid
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`): exact
  * cosine top-k as the baseline, plus two sublinear scale paths — a
  * sign-random-projection LSH and a label/centroid IVF probe.
  *
  * No counterpart in the reference (north-star extension). All vector math
  * is built-in higher-order functions (`zip_with`/`aggregate`/`transform`)
  * over the native array column — codegen'd, no UDF boxing, vectors never
  * leave the executor row format.
  *
  * Scale shapes:
  *  - brute force = one map-side cosine per row + `TakeOrderedAndProject`
  *    top-k (per-partition heap, k-row driver merge; no full sort);
  *  - LSH = candidates meet on an equi-join of (bucket) — shuffles two
  *    longs per row, not the vectors;
  *  - IVF = a tiny centroid table (n_labels × dim) broadcast both ways;
  *    the fact table is scanned once with a partition-prunable
  *    `label IN (probes)` filter.
  */
object Similarity {

  /** Element-wise double cast (float storage → double math, exact). */
  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product of two equal-length numeric arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def l2Norm(v: Column): Column =
    sqrt(aggregate(asDouble(v), lit(0.0), (acc, x) => acc + x * x))

  /** Cosine similarity in [-1, 1]; 0 when either side is a zero vector.
    * Declarative higher-order-function formulation — interpreted per
    * element; kept as the readable reference implementation and the
    * equivalence baseline for [[cosineFast]] in tests. */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** Codegen'd cosine similarity (custom Catalyst expression,
    * [[graft.expressions.CosineSimilarity]]): one fused whole-stage-
    * codegen loop, bit-identical results to [[cosine]]. Used by every
    * similarity operator below — the HOF version measured as the
    * dominant cost of brute-force search at sf0.1. */
  def cosineFast(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.CosineSimilarity(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** Exact top-k by cosine against a single query vector, supplied as a
    * 1-row DataFrame `(queryVecCol)` — broadcast, never collected to the
    * driver. Deterministic order: (rounded similarity desc, id asc). */
  def bruteForceTopK(
      df: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, queryVecCol: String, k: Int): DataFrame =
    df.crossJoin(broadcast(query.select(col(queryVecCol).as("__qv"))))
      .select(col(idCol),
        round(cosineFast(col(vecCol), col("__qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)

  /** k-nearest-neighbor JOIN: top-`k` base rows by cosine for EVERY query
    * row (not a single vector — the batched retrieval shape). The query
    * side broadcasts (assumed small: a probe batch), the base side
    * streams map-side; ranking is a per-query-partition window, so the
    * only shuffle carries (qid, id, sim) triples — never vectors.
    * Deterministic: rank on (rounded sim desc, id asc). */
  def knnJoin(
      base: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int): DataFrame = {
    // Map-side bounded top-k (graft.functions.TopKByScore): the shuffle
    // after the scoring scan carries ≤ k (sim, id) pairs per partition
    // per query — NOT the scored corpus, which a window row_number
    // formulation would move wholesale.
    val topk = udaf(new graft.functions.TopKByScore(k))
    base.crossJoin(broadcast(queries.select(
        col(queryIdCol).as("qid"), col(queryVecCol).as("__qv"))))
      .select(col("qid"), col(idCol).as("__id"),
        round(cosineFast(col(vecCol), col("__qv")), 6).as("__sim"))
      .groupBy(col("qid"))
      .agg(topk(col("__sim"), col("__id")).as("__tops"))
      .select(col("qid"), posexplode(col("__tops")).as(Seq("__r0", "__t")))
      .select(col("qid"), col("__t._2").as(idCol), col("__t._1").as("sim"),
        (col("__r0") + 1).cast("long").as("rank"))
  }

  /** Hyperplane `plane` as a dim-length weight vector in [-1, 1] —
    * deterministic SplitMix64 weights (shared mixer:
    * [[graft.expressions.Hashing.splitmix64]]) computed once on the
    * driver and shipped as array literals, so executors do zero hashing
    * per row. */
  private def planeVector(plane: Int, dim: Int): Seq[Double] =
    (0 until dim).map(i =>
      graft.expressions.Hashing.splitmix64(plane.toLong * dim + i).toDouble / Long.MaxValue)

  /** Signed projection of `vec` onto the literal plane. */
  private def signBit(vec: Column, plane: Int, dim: Int, bitPos: Int): Column = {
    val proj = aggregate(
      zip_with(asDouble(vec), typedLit(planeVector(plane, dim)), (x, w) => x * w),
      lit(0.0), (acc, v) => acc + v)
    when(proj > 0, shiftleft(lit(1L), bitPos)).otherwise(lit(0L))
  }

  /** ANN top-k via SRP-LSH: candidates share the query's bucket in at
    * least one of `nTables` independent signatures; exact cosine reranks
    * the candidates. Recall rises with tables, cost stays
    * O(candidates), not O(n).
    *
    * `multiprobe = true` additionally probes every 1-bit perturbation of
    * each query signature — the standard multiprobe trade: per-table
    * collision probability rises from p^nPlanes to roughly
    * p^(nPlanes-1), for (1 + nPlanes)× more QUERY-side bucket lookups
    * while the DATA side (the 100 TB side — one signature array per row,
    * computed map-side) is completely untouched. Measured at sf0.1
    * (ScaleCheck): 6 planes / 4 tables recall@10 5/10 exact-probe →
    * 9/10 multiprobe. */
  def annTopK(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      query: DataFrame, queryVecCol: String, k: Int,
      nPlanes: Int = 12, nTables: Int = 3,
      multiprobe: Boolean = false): DataFrame = {
    // Table t uses planes [t*nPlanes, (t+1)*nPlanes) via the plane index
    // offset baked into the literal weight vectors.
    def sigs(v: Column): Column = array(
      (0 until nTables).map { t =>
        (0 until nPlanes).map(p => signBit(v, t * nPlanes + p, dim, p))
          .reduce((a, b) => a.bitwiseOR(b))
      }: _*)

    // Stage the signature array before exploding, and use posexplode_outer
    // so no `size(sigs) > 0` filter is inferred and pushed below the
    // staging projection (it would re-inline the full nTables×nPlanes
    // projection work into a filter — see Dedup.lshCandidatePairs).
    val data = df.select(col(idCol), col(vecCol), sigs(col(vecCol)).as("__sigs"))
      .select(col(idCol), col(vecCol),
        posexplode_outer(col("__sigs")).as(Seq("__t", "__sig")))
    val qExact = query.select(col(queryVecCol).as("__qv"), sigs(col(queryVecCol)).as("__qsigs"))
      .select(col("__qv"), posexplode_outer(col("__qsigs")).as(Seq("__t", "__qsig")))
    val q =
      if (!multiprobe) qExact
      else qExact
        .select(col("__qv"), col("__t"), explode(array(
          col("__qsig") +: (0 until nPlanes).map(p =>
            col("__qsig").bitwiseXOR(lit(1L << p))): _*)).as("__qsig"))
    data.join(broadcast(q),
        data("__t") === q("__t") && col("__sig") === col("__qsig"))
      .select(col(idCol), round(cosineFast(col(vecCol), col("__qv")), 6).as("sim"))
      .groupBy(col(idCol)).agg(max(col("sim")).as("sim")) // dedup multi-table hits
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** IVF-style probe using a partition column (here: `label`) as the
    * coarse quantizer. Centroids are computed as per-label mean vectors
    * (posexplode → fixed-point mean → re-assemble), the query probes its
    * `nProbe` nearest centroids, and exact search runs only inside those
    * partitions. With the fact table partitioned/bucketed by `label` on
    * disk, the probe filter prunes entire partitions at scan time.
    *
    * Centroid means are 1e-6 fixed-point: sum the quantized components
    * as LONGs, divide once. An integer sum is associative, so the
    * centroid — and therefore the probe choice — is bit-identical under
    * any partitioning/merge order (a double `avg` varies in the last ulp
    * with aggregation order, enough to flip a near-tied probe ranking
    * between runs or engines); the 1e-6 quantization error is orders of
    * magnitude below any meaningful centroid separation. This is what
    * upgrades the IVF path from rows-only checks to a full replayable
    * oracle (ss3). */
  /** The `nProbe` partitions of `partCol` whose fixed-point centroid is
    * most cosine-similar to the query — the IVF coarse-quantizer probe
    * choice, shared by [[ivfTopK]] and [[ivfPqTopK]]. Integer centroid
    * sums are aggregation-order-independent, so the choice replays
    * bit-for-bit in SQL. */
  private def ivfProbes(
      df: DataFrame, vecCol: String, partCol: String,
      query: DataFrame, queryVecCol: String, nProbe: Int): DataFrame = {
    val centroids = df
      .select(col(partCol), posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .groupBy(col(partCol), col("__pos"))
      .agg(sum(floor(col("__x").cast("double") * 1000000 + 0.5).cast("long")).as("__s"),
        count(lit(1)).as("__n"))
      .withColumn("__m", (col("__s").cast("double") / 1000000.0) / col("__n"))
      .groupBy(col(partCol))
      .agg(transform(
        array_sort(collect_list(struct(col("__pos"), col("__m")))),
        s => s.getField("__m")).as("__centroid"))
    centroids
      .crossJoin(broadcast(query.select(col(queryVecCol).as("__qv"))))
      .select(col(partCol), cosineFast(col("__centroid"), col("__qv")).as("__csim"))
      .orderBy(col("__csim").desc, col(partCol))
      .limit(nProbe)
      .select(col(partCol))
  }

  def ivfTopK(
      df: DataFrame, idCol: String, vecCol: String, partCol: String,
      query: DataFrame, queryVecCol: String, k: Int, nProbe: Int = 2): DataFrame = {
    val probes = ivfProbes(df, vecCol, partCol, query, queryVecCol, nProbe)
    df.join(broadcast(probes), Seq(partCol))
      .crossJoin(broadcast(query.select(col(queryVecCol).as("__qv"))))
      .select(col(idCol), col(partCol),
        round(cosineFast(col(vecCol), col("__qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Scalar-quantized (int8) top-k: per-vector symmetric quantization
    * `q_i = round_half_up(x_i · 127/amax)`, candidate generation by the
    * dequantized integer dot product `dot(q, q_query) · amax · amax_q`,
    * then an exact-cosine rerank of the best `cand` candidates.
    *
    * The memory-bandwidth scale path for dense retrieval: the scan that
    * scores candidates touches 1 byte/dimension instead of 4, and the
    * candidate ranking is pure integer math (64 dims × 127² < 2²⁰ — no
    * overflow under ANSI mode). Exact-rerank reads full vectors for only
    * `cand` rows. Unlike the LSH/IVF paths this variant is fully
    * deterministic — every step is integer or reproducible IEEE double
    * math, so the DuckDB oracle replays it bit-for-bit (ss9).
    *
    * Staging: amax and the scale are each materialized as attributes
    * before use inside `transform` — composed they would re-evaluate the
    * array-max per element (the HOF-inlining trap). */
  def int8TopK(df: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, queryVecCol: String, k: Int,
      cand: Int = 50): DataFrame = {
    def amaxOf(v: Column): Column = array_max(transform(v, x => abs(x.cast("double"))))
    def scaleOf(amax: Column): Column =
      lit(127.0) / when(amax === 0, lit(1.0)).otherwise(amax)
    def quant(v: Column, scale: Column): Column =
      transform(v, x => floor(x.cast("double") * scale + lit(0.5)))
    val q = query.select(col(queryVecCol).as("__qv"))
      .select(col("__qv"), amaxOf(col("__qv")).as("__qamax"))
      .select(col("__qv"), col("__qamax"), scaleOf(col("__qamax")).as("__qs"))
      .select(col("__qv"), col("__qamax"), quant(col("__qv"), col("__qs")).as("__qq"))
    val data = df.select(col(idCol), col(vecCol))
      .select(col(idCol), col(vecCol), amaxOf(col(vecCol)).as("__amax"))
      .select(col(idCol), col(vecCol), col("__amax"), scaleOf(col("__amax")).as("__s"))
      .select(col(idCol), col(vecCol), col("__amax"), quant(col(vecCol), col("__s")).as("__q8"))
    val dotQ = aggregate(zip_with(col("__q8"), col("__qq"), (a, b) => a * b),
      lit(0L), (acc, v) => acc + v)
    val scored = data.crossJoin(broadcast(q))
      .select(col(idCol), col(vecCol), col("__qv"),
        ((dotQ.cast("double") * col("__amax")) * col("__qamax")).as("__score"))
    scored.orderBy(col("__score").desc, col(idCol)).limit(cand)
      .select(col(idCol), round(cosineFast(col(vecCol), col("__qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol)).limit(k)
  }

  /** Binary (1-bit) quantization ANN with exact rerank: each vector's
    * sign pattern packs into two 32-bit words (two BIGINTs, not one, so
    * neither engine touches the sign bit of a 64-bit value), candidates
    * rank by Hamming distance `bit_count(xor)` to the query signature,
    * and the `cand` closest rerank by exact cosine. 1 bit/dim — 32×
    * smaller than int8, the cheapest scan in the quantization ladder;
    * fully deterministic (sign of an IEEE float is exact), hence a FULL
    * oracle for an ANN path, like ss8/ss9. Ties in Hamming break by id
    * on both engines. */
  def binaryTopK(df: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, queryVecCol: String, k: Int,
      cand: Int = 50): DataFrame = {
    // Word packing: bit (i−1) of word lo for dims 1..32, of word hi for
    // dims 33..64. Sum of distinct powers of two < 2³² — no overflow,
    // no sign-bit hazards.
    def word(v: Column, offset: Int): Column =
      aggregate(sequence(lit(0), lit(31)), lit(0L),
        (acc, i) => acc + when(element_at(v, i + lit(offset + 1)).cast("double") >= 0,
          call_function("shiftleft", lit(1L), i)).otherwise(lit(0L)))
    val q = query.select(col(queryVecCol).as("__qv"))
      .select(col("__qv"), word(col("__qv"), 0).as("__qlo"),
        word(col("__qv"), 32).as("__qhi"))
    val data = df.select(col(idCol), col(vecCol),
      word(col(vecCol), 0).as("__lo"), word(col(vecCol), 32).as("__hi"))
    val hamming = bit_count(col("__lo").bitwiseXOR(col("__qlo"))) +
      bit_count(col("__hi").bitwiseXOR(col("__qhi")))
    data.crossJoin(broadcast(q))
      .select(col(idCol), col(vecCol), col("__qv"), hamming.as("__ham"))
      .orderBy(col("__ham"), col(idCol)).limit(cand)
      .select(col(idCol), col("__ham").cast("long").as("hamming"),
        round(cosineFast(col(vecCol), col("__qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol)).limit(k)
  }

  /** Product-quantization ANN with exact rerank — the memory-traded
    * middle rung of the quantization ladder (int8 > PQ > binary): the
    * vector splits into `m` subspaces of `subDim` dims, each subvector
    * encodes as the id of its nearest codebook centroid (argmin of
    * micro-rounded L2², centroid-id tie-break), and a query scores a
    * vector as the sum of per-subspace query·centroid partials from a
    * precomputed ADC table — m table lookups per vector instead of a
    * dim-length dot product, and the stored code is m bytes.
    *
    * `codebook` supplies the centroids (caller guarantees determinism —
    * the specs use the first 16 vectors by id; production would ship
    * k-means centroids, same contract). Partials fix-point to micro
    * BEFORE the per-vector sum so the 8-term addition is exact integer
    * math; candidates rank (approx desc, id), then `cand` rerank by
    * exact cosine. Shuffle inventory at scale: codes are built by an
    * (id, j)-grouped argmin over a broadcast codebook; the ADC table is
    * m×16 rows broadcast back — the corpus shuffles only (id, j, code)
    * triples, never vectors. */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, queryVecCol: String,
      codebook: DataFrame, codebookIdCol: String,
      k: Int, cand: Int = 50, m: Int = 8, subDim: Int = 8): DataFrame = {
    def subv(v: Column, j: Column): Column =
      transform(slice(v, j * subDim + 1, lit(subDim)), x => x.cast("double"))
    val js = explode(sequence(lit(0), lit(m - 1))).as("__j")
    val cents = codebook.select(col(codebookIdCol).as("__cid"),
        col(vecCol).as("__cv0"), js)
      .select(col("__cid"), col("__j"), subv(col("__cv0"), col("__j")).as("__cv"))
    val qsub = query.select(col(queryVecCol).as("__qv0"), js)
      .select(col("__j"), subv(col("__qv0"), col("__j")).as("__qs"))
    // ADC table: micro-fixed partial dot products, m×|codebook| rows.
    val t = qsub.join(broadcast(cents), "__j")
      .select(col("__j"), col("__cid"),
        floor(aggregate(zip_with(col("__qs"), col("__cv"), (a, b) => a * b),
          lit(0.0), (acc, v) => acc + v) * 1000000.0 + 0.5)
          .cast("long").as("__tval"))
    val dsub = df.select(col(idCol), col(vecCol), js)
      .select(col(idCol), col("__j"), subv(col(vecCol), col("__j")).as("__sv"))
    val enc = dsub.join(broadcast(cents), "__j")
      .select(col(idCol), col("__j"),
        floor(aggregate(
          zip_with(col("__sv"), col("__cv"), (x, c) => (x - c) * (x - c)),
          lit(0.0), (acc, v) => acc + v) * 1000000.0 + 0.5)
          .cast("long").as("__dm"),
        col("__cid"))
      .groupBy(col(idCol), col("__j"))
      .agg(min(struct(col("__dm"), col("__cid"))).getField("__cid").as("__code"))
    val tn = t.select(col("__j").as("__tj"), col("__cid").as("__tcid"),
      col("__tval"))
    val approx = enc.join(broadcast(tn),
        col("__j") === col("__tj") && col("__code") === col("__tcid"))
      .groupBy(col(idCol)).agg(sum(col("__tval")).as("__score"))
    val qv = query.select(col(queryVecCol).as("__qv"))
    approx.orderBy(col("__score").desc, col(idCol)).limit(cand)
      .join(df.select(col(idCol), col(vecCol)), idCol)
      .crossJoin(broadcast(qv))
      .select(col(idCol), round(cosineFast(col(vecCol), col("__qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol)).limit(k)
  }

  /** IVF + PQ — the composed index shape production ANN systems ship
    * (FAISS `IVFxPQy`): the coarse quantizer ([[ivfProbes]]) prunes the
    * corpus to `nProbe` partitions, and only the surviving fraction is
    * PQ-scored ([[pqTopK]]'s ADC lookup) and exact-reranked. At scale
    * the two stages multiply: IVF cuts the scan to nProbe/nlist of the
    * corpus, PQ cuts the scanned bytes per row to m codes — the full
    * corpus is never scanned OR shuffled. The codebook stays GLOBAL
    * (trained once, shared across partitions), matching production
    * practice. Same determinism contract as both parents → fully
    * SQL-replayable. */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String, partCol: String,
      query: DataFrame, queryVecCol: String,
      codebook: DataFrame, codebookIdCol: String,
      k: Int, nProbe: Int = 2, cand: Int = 50): DataFrame = {
    val probes = ivfProbes(df, vecCol, partCol, query, queryVecCol, nProbe)
    pqTopK(df.join(broadcast(probes), Seq(partCol)), idCol, vecCol,
      query, queryVecCol, codebook, codebookIdCol, k, cand)
  }

  /** Embedding near-duplicate pairs: cosine ≥ `threshold` over a bounded
    * subset (brute force; the LSH/IVF paths above are the scale
    * alternative). Broadcast self-join, ids ordered to emit each pair
    * once. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val l = df.select(col(idCol).as("id1"), col(vecCol).as("__v1"))
    val r = df.select(col(idCol).as("id2"), col(vecCol).as("__v2"))
    l.join(broadcast(r), col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        round(cosineFast(col("__v1"), col("__v2")), 6).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  /** `struct(d, j)` — squared distance to and index of the nearest
    * centroid, ties to the smallest index. Codegen'd fused loop
    * ([[graft.expressions.NearestCentroid]]); distances accumulate
    * sequentially in index order, so results are bit-identical to the
    * `list_reduce(list_prepend(0.0, …))` folds the DuckDB oracle runs. */
  private def nearest(v: Column, centroids: Seq[Array[Double]]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      NearestCentroid(
        org.apache.spark.sql.GraftColumnBridge.expression(v),
        org.apache.spark.sql.GraftColumnBridge.expression(
          array(centroids.map(c => array(c.toSeq.map(lit): _*)): _*))))

  /** One partition's share of a k-means round: per cluster, the sum of
    * each coordinate fixed-pointed to `round(x·10⁹)` (k·dim of them)
    * and the member count. `Math.addExact` fails on overflow the way
    * the ANSI `sum` of the DataFrame formulation does. */
  private final class ClusterSums(k: Int, dims: Int) extends Serializable {
    val sums = new Array[Long](k * dims)
    val counts = new Array[Long](k)

    def add(j: Int, v: ArrayData): this.type = {
      val base = j * dims
      var i = 0
      while (i < dims) {
        sums(base + i) = Math.addExact(sums(base + i),
          Math.floor(v.getDouble(i) * KmeansFp + 0.5).toLong)
        i += 1
      }
      counts(j) += 1
      this
    }

    def merge(o: ClusterSums): this.type = {
      var i = 0
      while (i < sums.length) { sums(i) = Math.addExact(sums(i), o.sums(i)); i += 1 }
      i = 0
      while (i < k) { counts(i) += o.counts(i); i += 1 }
      this
    }
  }

  private val KmeansFp = 1e9

  /** Deterministic Lloyd's k-means over an embedding column: exactly
    * `iterations` rounds from a fixed seed (the vectors of the `k`
    * smallest ids), no RNG anywhere, so the whole trajectory — every
    * assignment and every centroid of every round — is reproducible and
    * the DuckDB oracle replays it bit-for-bit in a recursive CTE
    * (q100). Returns `(id, cluster, d2_ppm)`: final nearest centroid
    * and squared distance to it in parts-per-million.
    *
    * Engine-portability: per-coordinate contributions are fixed-pointed
    * (×10⁹, half-up) BEFORE the per-cluster sum — integer sums are
    * partition/merge-order-immune (the PageRank trick, fix the terms
    * not the total) — and the new centroid coordinate is the one
    * division `(Σfp / count) / 10⁹` performed identically on both
    * engines. Distances are sequential folds against the centroids
    * ([[NearestCentroid.nearest]], the scalar function the final
    * assignment's expression also evaluates), so each round is a flat
    * scan of the persisted points: no join, no lineage chaining,
    * nothing to re-root.
    *
    * Points whose vector is NULL, holds a NULL element or differs in
    * length from the seeds join no cluster in any round and get NULL
    * `cluster` and `d2_ppm`. A seed with any of those defects fails the
    * call with its id. Empty clusters keep their previous centroid.
    *
    * Scale: each round is one scan of the cached points — one job, one
    * stage — whose per-partition partials (k·dim fixed-point `Long` sums
    * and k counts, 4 KB at k=8, dim=64) are merged by `treeAggregate`
    * at depth 1, i.e. on the driver: no shuffle and no per-round
    * Catalyst plan. Centroids live on the driver (k·dim doubles), never
    * as a joined table. The cached points belong to the caller's
    * [[graft.Staging.scope]]. */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, k: Int = 8,
      iterations: Int = 5): DataFrame = {
    require(k >= 1 && iterations >= 0,
      s"kmeans: need k >= 1 and iterations >= 0, got k=$k, iterations=$iterations")
    val pts = graft.Staging.persist(df.select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("v")))
    val seeds = pts.orderBy("id").limit(k).collect()
    require(seeds.length == k,
      s"kmeans: need at least k=$k points, got ${seeds.length}")
    val dims = Option(seeds.head.getSeq[Any](1)).fold(0)(_.size)
    var centroids: Array[Array[Double]] = seeds.map { r =>
      val v = Option(r.getSeq[Any](1))
      require(v.exists(s => s.size == dims && !s.contains(null)),
        s"kmeans: seed id ${r.get(0)} has a NULL vector, a NULL element " +
          s"or not the $dims elements of seed id ${seeds.head.get(0)}")
      v.get.map(_.asInstanceOf[Double]).toArray
    }
    val vecs = pts.select(col("v")).queryExecution.toRdd
    for (_ <- 1 to iterations) {
      val mat = new GenericArrayData(
        centroids.map(c => UnsafeArrayData.fromPrimitiveArray(c): Any))
      val tot = vecs.treeAggregate(new ClusterSums(k, dims))(
        (acc, row) => {
          if (!row.isNullAt(0)) {
            val v = row.getArray(0)
            val m = NearestCentroid.nearest(v, vecIsFloat = false, mat)
            if (m != null) acc.add(m.getLong(1).toInt, v)
          }
          acc
        },
        (a, b) => a.merge(b), depth = 1)
      centroids = Array.tabulate(k) { j =>
        if (tot.counts(j) == 0) centroids(j)
        else Array.tabulate(dims)(d =>
          (tot.sums(j * dims + d).toDouble / tot.counts(j)) / KmeansFp)
      }
    }
    pts.select(col("id"), nearest(col("v"), centroids.toSeq).as("m"))
      .select(col("id"), col("m.j").as("cluster"),
        floor(col("m.d") * 1e6 + 0.5).cast("long").as("d2_ppm"))
  }
}
