package graft.operators

import graft.Staging
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus curation: exact,
  * fingerprint, n-gram Jaccard, MinHash+LSH, and SimHash near-dup.
  *
  * Absent from the reference (its only integrity ops are PK/FK constraints,
  * `/root/reference/sql/blog_post_definitions.sql:15-81`); built per the
  * north star as first-class engine operators.
  *
  * Scale design, common to all of them:
  *  - signatures (minhash / simhash / fingerprints) are pure `Column`
  *    expressions over built-ins (`transform`/`aggregate`/`xxhash64`) —
  *    codegen'd map-side work, no UDFs, no driver participation;
  *  - candidate generation shuffles only `(id, bucket)` pairs, never raw
  *    text: at 100 TB the text stays columnar in the scan and the shuffle
  *    payload is two longs per row per band;
  *  - all-pairs verification happens only within LSH/SimHash buckets, so
  *    the quadratic step is bounded by bucket size (capped — see
  *    `maxBucketSize` — the classic guard against a boilerplate cluster
  *    exploding one reducer);
  *  - every step is deterministic (seeded xxhash64), so results are
  *    reproducible under retries and comparable across runs.
  */
object Dedup {

  /** Unpersist what `spark` staged: [[graft.Staging.release]] under the
    * name the perfbench harness calls. */
  def releaseCaches(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.Staging.release(spark)

  /** Exact duplicate groups by full equality of `cols`: one row per
    * distinct value combination with its multiplicity and a canonical
    * (minimum) id to keep. Plain hash-aggregate: one shuffle on the
    * grouping key, partial aggregation map-side. */
  def exactDupGroups(df: DataFrame, idCol: String, cols: Column*): DataFrame =
    df.groupBy(cols: _*)
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** Drop exact duplicates, keeping an arbitrary row per key — thin alias
    * over the built-in so the engine surface names it. */
  def dropExact(df: DataFrame, cols: String*): DataFrame =
    if (cols.isEmpty) df.dropDuplicates() else df.dropDuplicates(cols)

  /** Character k-shingles (distinct) of a text column — the unit set for
    * Jaccard/MinHash. `sequence` + `transform`: no explode, the array
    * stays inside the row.
    *
    * IMPORTANT evaluation contract: pass an *attribute* (a column staged
    * by a previous `select`), not a composite expression. Higher-order
    * function lambdas inline their argument expression per element — a
    * regex-normalizing expression passed here would re-run once per
    * shingle instead of once per row (a ~300× CPU blowup measured at
    * sf0.01). Same rule for every signature function below. */
  def shingles(normText: Column, k: Int = 5): Column =
    array_distinct(
      transform(sequence(lit(1), greatest(length(normText) - (k - 1), lit(1))),
        i => normText.substr(i, lit(k))))

  /** Exact Jaccard similarity of two set-valued (pre-distinct) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** Prime modulus for universal hashing: every intermediate stays under
    * 2^62, safe under ANSI arithmetic. */
  private val P31 = 2147483647L // 2^31 - 1


  /** Base hashes of the shingle set: xxhash64 folded into [0, 2^31-1).
    * Stage this as a column — the string hashing happens once; the
    * per-signature-row work downstream is pure long arithmetic. */
  def shingleBaseHashes(shingleSet: Column): Column =
    transform(shingleSet, sh => pmod(xxhash64(sh), lit(P31)))

  /** Fused minhash+banding over pre-hashed shingles: min-hash i is
    * `min over h of (a_i*h + b_i) mod p` (universal hashing, a_i/b_i
    * driver-derived literals), band bucket = hash of its rows' minima.
    *
    * Two design points, both measured:
    *  - hash strings once (`shingleBaseHashes`), derive all `numHashes`
    *    permutations arithmetically — ~5× cheaper than re-hashing strings
    *    per signature row;
    *  - each min-hash is computed exactly once (band b owns rows
    *    [b*r, (b+1)*r)) — materializing a signature column and slicing it
    *    per band would re-evaluate it per band, because Catalyst inlines
    *    single-use aliases into lambda bodies where evaluation is
    *    per-element. The `when(size=0)` guard doubles as the
    *    empty-document case and as a second textual reference that stops
    *    CollapseProject from inlining a non-attribute input. */
  def lshBucketsFromHashes(baseHashes: Column, bands: Int, rowsPerBand: Int): Column = {
    val n = bands * rowsPerBand
    val as = typedLit(graft.expressions.Hashing.minhashA(n).toSeq)
    val bs = typedLit(graft.expressions.Hashing.minhashB(n).toSeq)
    val core = transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(
        transform(sequence(b * lit(rowsPerBand), (b + lit(1)) * lit(rowsPerBand) - 1),
          i => array_min(transform(baseHashes,
            h => pmod(element_at(as, i + 1) * h + element_at(bs, i + 1), lit(P31))))),
        b))
    when(size(baseHashes) === 0, typedLit(Seq.fill(bands)(0L))).otherwise(core)
  }

  /** Codegen'd band buckets (SURVEY §4.3 escalation:
    * [[graft.expressions.MinHashBandBuckets]]) — the production path;
    * [[lshBucketsFromHashes]] above is the declarative reference. */
  def bucketsExpr(baseHashes: Column, bands: Int, rowsPerBand: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.MinHashBandBuckets(
        org.apache.spark.sql.GraftColumnBridge.expression(baseHashes), bands, rowsPerBand))

  /** Codegen'd SimHash ([[graft.expressions.SimHash64]]). */
  def simhashExpr(tokenHashes: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.SimHash64(
        org.apache.spark.sql.GraftColumnBridge.expression(tokenHashes)))

  /** Candidate pairs (id1 < id2) from LSH buckets.
    *
    * `maxBucketSize` drops degenerate buckets (boilerplate/empty docs that
    * all collide): a bucket of n rows yields n² join rows, so one hot
    * bucket can dominate the whole job at scale; dropping buckets larger
    * than the cap bounds the blowup while keeping genuine near-dup
    * clusters (which are small). AQE skew-join handles the rest.
    */
  def lshCandidatePairs(
      df: DataFrame, idCol: String, bucketsCol: String,
      maxBucketSize: Int = 1000): DataFrame = {
    // posexplode_outer, NOT posexplode: the inner variant makes Catalyst
    // infer a `size(buckets) > 0` filter (InferFiltersFromGenerate) that
    // gets pushed below the staging projections — re-inlining the whole
    // signature expression into a pre-shuffle, single-partition filter (a
    // measured ~100× CPU blowup). The buckets array has constant length,
    // so outer semantics are identical here.
    val exploded = df.select(col(idCol).as("__id"),
        posexplode_outer(col(bucketsCol)).as(Seq("__band", "__bucket")))
    val sized = exploded
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("__band", "__bucket")))
      .where(col("__n") <= maxBucketSize)
      .drop("__n")
    val l = sized.select(col("__band"), col("__bucket"), col("__id").as("id1"))
    val r = sized.select(col("__band"), col("__bucket"), col("__id").as("id2"))
    l.join(r, Seq("__band", "__bucket"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
  }

  /** Full MinHash+LSH near-dup pipeline over (`idCol`, `textCol`):
    * shingle → signature → bands → candidate pairs → exact-Jaccard verify
    * on the shingle sets → pairs with jaccard ≥ `threshold`.
    *
    * Shuffle inventory (the 100 TB budget): one narrow projection
    * (id, shingles, buckets); one shuffle of (id, band, bucket); one
    * shuffle joining candidates back to shingle sets; no shuffle ever
    * carries raw text. */
  def minhashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, numHashes: Int = 64, bands: Int = 8,
      threshold: Double = 0.8, maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // Stage each computed value as a real column (select boundaries), so
    // it evaluates once per row — see the evaluation contract on
    // `shingles`. fanOut spreads the CPU-heavy signature stage across
    // cores even when the scan yields a single partition.
    //
    // The whole pipeline operates on shingle HASH sets
    // (graft.expressions.ShingleHashes): shingle strings never
    // materialize, and neither the bucket shuffle nor the verification
    // join ever carries text — only long arrays. Exact Jaccard on hash
    // sets equals string-set Jaccard up to 2^-31 collisions.
    val base = graft.Tables.fanOut(
        df.select(col(idCol).as("__id"),
          TextAnalysis.normalizeText(col(textCol)).as("__norm")))
      .select(col("__id"), shingleHashesExpr(col("__norm"), shingleK).as("__h"))
    // Persist the signature table: it feeds three plan branches (bucket
    // generation + both sides of the verification join), and without a
    // materialization point Spark re-derives the normalize+hash scan —
    // the pipeline's most expensive kernel — once per branch. Hash sets
    // are ~8 bytes/shingle, orders of magnitude smaller than the text,
    // so MEMORY_AND_DISK is the right trade at any corpus size.
    val sigs = Staging.persist(base
      .select(col("__id"), col("__h"),
        bucketsExpr(col("__h"), bands, rowsPerBand).as("__buckets")))
    val cands = lshCandidatePairs(
      sigs.select(col("__id"), col("__buckets")), "__id", "__buckets", maxBucketSize)
    val sets = sigs.select(col("__id"), col("__h"))
    cands
      .join(sets.select(col("__id").as("id1"), col("__h").as("__h1")), "id1")
      .join(sets.select(col("__id").as("id2"), col("__h").as("__h2")), "id2")
      .select(col("id1"), col("id2"),
        round(jaccard(col("__h1"), col("__h2")), 4).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Codegen'd distinct shingle-hash set
    * ([[graft.expressions.ShingleHashes]]). */
  def shingleHashesExpr(normText: Column, k: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.ShingleHashes(
        org.apache.spark.sql.GraftColumnBridge.expression(normText), k))

  /** 64-bit SimHash over pre-hashed tokens (`tokenHashes` = staged
    * `transform(toks, xxhash64)` column): bit b is set iff the sum over
    * token hashes of ±1 (sign of bit b) is positive. Near-identical texts
    * differ in few bits. Strings are hashed once; the 64-bit loop is pure
    * long arithmetic — O(64 × tokens) map-side.
    *
    * The `when(size=0)` guard doubles as the empty-document case and the
    * anti-inlining second reference (see `lshBucketsFromHashes`). */
  def simhash(tokenHashes: Column): Column = {
    val core = aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, b) => {
      val bitSum = aggregate(tokenHashes, lit(0L),
        (s, h) => s + when(call_function("shiftright", h, b)
          .bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
      acc.bitwiseOR(when(bitSum > 0,
        call_function("shiftleft", lit(1L), b)).otherwise(lit(0L)))
    })
    when(size(tokenHashes) === 0, lit(0L)).otherwise(core)
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxDist`, found by
    * the 4×16-bit chunk trick: any pair within Hamming distance 3 shares
    * at least one exact 16-bit chunk (pigeonhole), so candidates are an
    * equi-join on (chunk index, chunk value) — no quadratic scan. */
  def simhashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    // 4 chunks of 16 bits guarantee (pigeonhole) a shared chunk only for
    // Hamming distance ≤ 3; a larger maxDist would silently lose recall.
    require(maxDist >= 0 && maxDist <= 3,
      s"simhashNearDups: maxDist must be in [0,3] for the 4-chunk scheme (got $maxDist)")
    val sigs = graft.Tables.fanOut(
        df.select(col(idCol).as("__id"),
          TextAnalysis.tokens(col(textCol)).as("__toks")))
      .select(col("__id"), transform(col("__toks"), t => xxhash64(t)).as("__th"))
      .select(col("__id"), simhashExpr(col("__th")).as("__sig"))
    val chunked = sigs.select(col("__id"), col("__sig"),
      transform(sequence(lit(0), lit(3)),
        c => call_function("shiftright", col("__sig"), c * lit(16))
          .bitwiseAND(lit(0xFFFFL))).as("__chunks"))
    // posexplode_outer: see lshCandidatePairs — avoids the inferred
    // size()>0 filter that would re-inline the simhash computation.
    val exploded = chunked.select(col("__id"), col("__sig"),
      posexplode_outer(col("__chunks")).as(Seq("__c", "__v")))
    val sized = exploded
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("__c", "__v")))
      .where(col("__n") <= maxBucketSize)
    val l = sized.select(col("__c"), col("__v"), col("__id").as("id1"), col("__sig").as("__sig1"))
    val r = sized.select(col("__c"), col("__v"), col("__id").as("id2"), col("__sig").as("__sig2"))
    l.join(r, Seq("__c", "__v"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("__sig1").bitwiseXOR(col("__sig2"))).cast("int").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxDist)
  }

  /** Connected components over a near-dup pair list: every document gets
    * the MINIMUM doc id reachable through pair edges as its cluster id —
    * turning pairwise similarity output (dd3/dd4/dd5/dd6) into dedup
    * GROUPS with a canonical keeper per group.
    *
    * Algorithm: iterative min-label propagation (the standard
    * large-graph formulation — each round is one distributed join +
    * partial-aggregated min, the driver only checks convergence).
    * Rounds needed = graph diameter; near-dup components are
    * quasi-cliques, so 2–3 rounds in practice, `maxIter` bounds
    * pathological chains. At 100 TB both sides of the round's join
    * shuffle only (long, long) pairs — label propagation never carries
    * text or vectors.
    *
    * Each round's labels are persisted and the previous round's freed —
    * without a materialization point the plan would re-derive ALL prior
    * rounds each iteration (lineage doubles per round otherwise). The
    * returned labels read pins that belong to the caller's
    * [[graft.Staging.scope]]; a long-lived session outside any scope
    * keeps them until [[graft.Staging.release]]. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 60): DataFrame = {
    val spark = pairs.sparkSession
    // Symmetric edges in ONE pass: each pair row emits BOTH directions
    // atomically via explode — no union of two reads of a shared
    // persisted child, so the caller's pair pipeline (for near-dup
    // input, the quadratic similarity join) is scanned exactly once AND
    // a half-symmetric edge set is structurally impossible (a
    // full-registry Verify run once produced singleton "clusters" whose
    // shape was exactly a lost union branch; with explode the two
    // directions cannot exist without each other).
    val edges = Staging.persist(pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct())
    val edgeCount = edges.count()
    // Empty pair list → no clusters (and the loop's NULL-sum convergence
    // probe would NPE on zero rows).
    if (edgeCount == 0) {
      edges.unpersist(blocking = false)
      return edges.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
    }
    // Size the loop's shuffle parallelism to the LABEL data (16-byte
    // rows), not the session default meant for table scans: an iterative
    // algorithm pays every empty partition once per shuffle PER ROUND,
    // so a small component graph at the session's width is pure
    // scheduling overhead (measured 7 s → sub-second on a 300-node
    // graph), while a 100 TB edge list still gets the full session
    // parallelism through the min().
    runLabelPropagation(edges, loopParts(spark, edgeCount), maxIter)
  }

  /** Loop shuffle width shared by the iterative CC loops: sized to the
    * edge list's 16-byte rows, capped at the session's width. */
  private def loopParts(spark: org.apache.spark.sql.SparkSession,
      edgeCount: Long): Int =
    math.max(1, math.min(
      spark.conf.get("spark.sql.shuffle.partitions").toInt,
      (edgeCount / 100000L + 1L).toInt))

  /** The propagation loop of [[connectedComponents]]; expects `edges`
    * symmetric, deduplicated, and already staged.
    *
    * RDD rounds (round-17 optimization pass — the [[Graph.pageRank]]
    * rationale): the former DataFrame rounds were lineage-truncated via
    * per-round `.rdd` re-roots, and that re-root's Catalyst
    * analyze/optimize/plan pass dominated the loop's wall at bench
    * scale. Co-partitioned on one HashPartitioner keyed by node: the
    * neighbor-propagation join is NARROW every round; the round's
    * shuffles are the min-label fold and the pointer-jump join. The
    * fixpoint (per-node component minimum) is partitioning-independent,
    * so results are unchanged. */
  private def runLabelPropagation(edges: DataFrame, parts: Int,
      maxIter: Int): DataFrame = {
    val spark = edges.sparkSession
    val part = new org.apache.spark.HashPartitioner(parts)
    val rddPins = collection.mutable.ArrayBuffer[org.apache.spark.rdd.RDD[_]]()
    // Keyed by dst so the propagation join delivers (src ← lbl(dst)):
    // symmetric edges make this cover both directions.
    val edgesR = Staging.persist(spark, edges.rdd
      .map(r => (r.getLong(1), r.getLong(0))).partitionBy(part))
    rddPins += edgesR
    var labels: org.apache.spark.rdd.RDD[(Long, Long)] = Staging.persist(
      spark, edgesR.map { case (_, src) => (src, src) }
        .reduceByKey(part, (a, _) => a))
    rddPins += labels
    // Convergence check: node ids are non-negative and min-propagation
    // only ever lowers labels, so sum(lbl) strictly decreases each round
    // until the fixpoint — one aggregate action per round. Long adds,
    // exactly the former DataFrame sum(lbl) (wrap semantics included).
    def labelSum(l: org.apache.spark.rdd.RDD[(Long, Long)]): Long =
      l.aggregate(0L)((acc, kv) => acc + kv._2, _ + _)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val viaNeighbor = edgesR.join(labels) // narrow: both on `part`
        .map { case (_, (src, lbl)) => (src, lbl) }
      val prop = (viaNeighbor ++ labels)
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b)) // min-label fold
      // Pointer jump (label ← its label's label): composes each round's
      // single-hop propagation into doubling reach, so rounds are
      // O(log diameter) instead of O(diameter) — the difference between
      // 4 and 40 shuffle rounds on a 10^4-long chain of near-dups.
      val byLbl = prop.map { case (node, lbl) => (lbl, node) }
      val next = Staging.persist(spark, byLbl
        .leftOuterJoin(prop) // prop narrow, byLbl shuffles
        .map { case (lbl, (node, jlbl)) =>
          (node, math.min(lbl, jlbl.getOrElse(lbl)))
        }
        .partitionBy(part)) // placed for next round's join
      rddPins += next
      val nextSum = labelSum(next)
      labels.unpersist(blocking = false)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    // An unconverged result is a valid coarsening but NOT components —
    // failing beats silently returning split clusters. Reach compounds
    // ≥ ×1.6 per round (propagation + pointer jump), so the default 60
    // rounds covers any physically plausible diameter; a measured 100k-
    // node chain converges in 17.
    if (!converged) {
      rddPins.foreach(_.unpersist(blocking = false))
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds")
    }
    import spark.implicits._
    val out = labels.toDF("doc_id", "cluster_id")
    // Intermediate rounds release now; the final label table (what the
    // returned lineage reads) outlives the function — released when the
    // caller's Staging.scope ends (round-18: an exit-time unpersist
    // risked round re-runs under external-shuffle eviction).
    val keep = labels
    rddPins.filterNot(_ eq keep).foreach(_.unpersist(blocking = false))
    out
  }

  /** Connected components by alternating large-star / small-star rounds
    * (the MapReduce CC formulation of Kiveris et al., SoCC'14) — the
    * O(log n)-round alternative to [[connectedComponents]]: convergence
    * does not depend on graph DIAMETER, so a crawl-scale dedup graph
    * with a pathological near-dup chain costs logarithmic rounds where
    * label propagation would pay one shuffle round per hop of the chain.
    * Same contract as [[connectedComponents]]: every node appearing in
    * `pairs` labeled with its component's minimum id.
    *
    * Edges live canonically as (src=bigger, dst=smaller); each round is
    * two join+aggregate passes shuffling only (long, long) pairs:
    *  - large-star: each node's strictly-LARGER neighbors re-attach to
    *    the minimum of its closed neighborhood (computed over the
    *    symmetric edge list);
    *  - small-star: each node and its smaller neighbors re-attach to its
    *    minimum smaller neighbor.
    * Both preserve connectivity and never raise any node's minimum
    * neighbor, so the fixpoint is a star forest with one star per
    * component, centered at the component minimum (the minimum cannot be
    * a child: a child is strictly bigger than its center).
    *
    * Convergence test (exact, not a checksum): the edge set is a star
    * forest iff every child has exactly ONE center and no node is both
    * child and center — one aggregate plus one distinct-join per round,
    * each over (long, long) rows. Per-round plans are lineage-truncated
    * like the min-label loop (the star transforms self-join the round's
    * output, doubling the logical tree per round otherwise). Its pins
    * belong to the caller's [[graft.Staging.scope]]. */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30): DataFrame = {
    val spark = pairs.sparkSession
    val canon = Staging.persist(pairs.select(
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("src"),
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct())
    val edgeCount = canon.count()
    if (edgeCount == 0)
      return canon.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
    runStarRounds(canon, loopParts(spark, edgeCount), maxIter)
  }

  /** The alternating-star loop of [[connectedComponentsStar]]; expects
    * `edges` canonical (src > dst), deduplicated, staged, non-empty.
    *
    * RDD rounds (round-17 optimization pass — the [[Graph.pageRank]]
    * rationale: per-round Catalyst re-root passes dominated the wall).
    * Every transform below is the literal RDD spelling of the former
    * DataFrame round — large-star re-attach, small-star re-attach,
    * exact star-forest convergence test — and the fixpoint labels are
    * partitioning-independent, so results are unchanged. */
  private def runStarRounds(edges0: DataFrame, parts: Int,
      maxIter: Int): DataFrame = {
    val spark = edges0.sparkSession
    val part = new org.apache.spark.HashPartitioner(parts)
    val rddPins = collection.mutable.ArrayBuffer[org.apache.spark.rdd.RDD[_]]()
    var edges: org.apache.spark.rdd.RDD[(Long, Long)] = Staging.persist(
      spark, edges0.rdd.map(r => (r.getLong(0), r.getLong(1))).partitionBy(part))
    rddPins += edges
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // Large-star: min over each node's closed symmetric neighborhood;
      // every undirected edge (a, b), b > a contributes (b → m(a)).
      val sym = edges.flatMap { case (s, d) => Iterator((s, d), (d, s)) }
      val mins = sym.reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        .mapPartitions(_.map { case (u, mn) => (u, math.min(u, mn)) },
          preservesPartitioning = true)
      val ls = Staging.persist(spark, sym.filter { case (s, d) => d > s }
        .join(mins) // mins narrow; the filtered sym side shuffles
        .map { case (_, (d, m)) => (d, m) }
        .filter { case (s, d) => s != d }
        .distinct(parts)
        .partitionBy(part)) // feeds BOTH small-star passes
      rddPins += ls
      // Small-star over (big → small) edges: node u and its smaller
      // neighbors all re-attach to u's minimum smaller neighbor.
      val mins2 = ls.reduceByKey(part, (a: Long, b: Long) => math.min(a, b)) // narrow fold
      val next = Staging.persist(spark, ls.join(mins2) // narrow
        .map { case (_, (d, m)) => (d, m) }
        .filter { case (s, d) => s != d }
        .union(mins2)
        .distinct(parts)
        .partitionBy(part))
      rddPins += next
      // Star-forest fixpoint: every child has exactly one center AND no
      // node is both child and center. Exact test, two small actions.
      val childDeg = next.mapValues(_ => 1L).reduceByKey(part, _ + _)
      val maxDeg = childDeg
        .aggregate(0L)((a, kv) => math.max(a, kv._2), math.max)
      converged = maxDeg == 1 && {
        val centers = next.map { case (_, c) => (c, ()) }
          .reduceByKey(part, (a, _) => a)
        centers.join(childDeg).isEmpty()
      }
      edges.unpersist(blocking = false)
      ls.unpersist(blocking = false)
      edges = next
      iter += 1
    }
    if (!converged) {
      rddPins.foreach(_.unpersist(blocking = false))
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge within $maxIter rounds")
    }
    // Star forest → labels: children get their center, centers get
    // themselves (a center never appears as a child at the fixpoint).
    val centersSelf = edges.map { case (_, c) => (c, c) }.distinct(parts)
    import spark.implicits._
    val out = (edges ++ centersSelf).toDF("doc_id", "cluster_id")
    // Intermediate rounds release now; the final star-forest edge set
    // (read twice by the returned lineage) outlives the function —
    // released when the caller's Staging.scope ends (round-18, see the
    // min-label loop above).
    val keep = edges
    rddPins.filterNot(_ eq keep).foreach(_.unpersist(blocking = false))
    out
  }

  /** Portable (md5-seeded) distinct shingle hashes: fold the first 8 hex
    * chars of `md5(shingle)` into [0, 2^31-1). Exactly reproducible in
    * DuckDB (`CAST('0x' || substr(md5(s),1,8) AS BIGINT) % 2147483647`),
    * which is what lets [[minhashNearDupsPortable]] carry a full hash-
    * compare oracle. ~3× the CPU of the xxhash64 production path
    * ([[shingleHashesExpr]]) — this variant exists for verification, the
    * production pipeline stays on xxhash64.
    *
    * `normText` must be a staged attribute (see the [[shingles]]
    * evaluation contract). Distinct is applied AFTER hashing, mirroring
    * the oracle's `list_distinct(list_transform(...))` order. */
  def shingleHashesPortable(normText: Column, k: Int): Column =
    array_distinct(
      transform(sequence(lit(1), greatest(length(normText) - (k - 1), lit(1))),
        i => pmod(
          conv(substring(md5(normText.substr(i, lit(k)).cast("binary")), 1, 8), 16, 10)
            .cast("long"),
          lit(P31))))

  /** Portable MinHash signature minima via the fused codegen expression
    * ([[graft.expressions.MinHashSignature]]) — value-identical to
    * `transform(sequence(0, n-1), k -> array_min(transform(hs, ...)))`
    * on the same [[graft.expressions.Hashing]] coefficients, one codegen
    * loop instead of n·|hs| interpreted lambda dispatches. */
  def minhashSignature(hashes: Column, numHashes: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.MinHashSignature(
        org.apache.spark.sql.GraftColumnBridge.expression(hashes), numHashes))

  /** MinHash+LSH near-dups with every hash engine-portable (md5-derived
    * shingle hashes + SplitMix64-derived permutation coefficients): the
    * verification twin of [[minhashNearDups]], identical shape — shingle →
    * signature → band join → exact-Jaccard verify — but each band key is
    * the band's raw minima slice (an `array<bigint>` join key) instead of
    * an xxhash64 bucket, so a SQL oracle can replay the entire pipeline
    * bit-for-bit. Same shuffle inventory as the production path; only the
    * per-shingle hash is costlier. */
  def minhashNearDupsPortable(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val base = graft.Tables.fanOut(
        df.select(col(idCol).as("__id"),
          TextAnalysis.normalizeText(col(textCol)).as("__norm")))
      .select(col("__id"), shingleHashesPortable(col("__norm"), shingleK).as("__h"))
    // Staged for the same three-branch reason as minhashNearDups.
    // Signature minima via the fused
    // codegen MinHashSignature expression — value-identical to the
    // declarative transform/array_min formulation the oracle
    // interpolates, without its n·|hs| interpreted lambda dispatches.
    val sigs = Staging.persist(base
      .select(col("__id"), col("__h"),
        minhashSignature(col("__h"), numHashes).as("__sig")))
    // Band key = the minima slice itself. posexplode_outer per the
    // lshCandidatePairs contract (no inferred size()>0 filter).
    val bandsDf = sigs.select(col("__id"),
      posexplode_outer(transform(sequence(lit(0), lit(bands - 1)),
        b => slice(col("__sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand))))
        .as(Seq("__b", "__band")))
    val l = bandsDf.select(col("__b"), col("__band"), col("__id").as("id1"))
    val r = bandsDf.select(col("__b"), col("__band"), col("__id").as("id2"))
    val cands = l.join(r, Seq("__b", "__band"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
    val sets = sigs.select(col("__id"), col("__h"))
    cands
      .join(sets.select(col("__id").as("id1"), col("__h").as("__h1")), "id1")
      .join(sets.select(col("__id").as("id2"), col("__h").as("__h2")), "id2")
      .select(col("id1"), col("id2"),
        round(jaccard(col("__h1"), col("__h2")), 4).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Incremental near-dup detection: the production shape where a NEW
    * increment (e.g. today's crawl) is checked against the whole corpus
    * without re-comparing the corpus to itself. Same portable MinHash
    * pipeline as [[minhashNearDupsPortable]], but the band join's left
    * side carries only rows satisfying `isNew` — candidate volume (and
    * the quadratic verification) scales with |increment| × bucket
    * occupancy, not |corpus|². Pairs are emitted id-ordered
    * (`least`/`greatest`) so a new-new collision appears once.
    *
    * Signatures still compute over the full input — at scale the old
    * side's signatures come from the signature STORE written by the
    * previous run (same schema as `sigs` here), making each daily run
    * linear in the increment. */
  def minhashNearDupsIncremental(
      df: DataFrame, idCol: String, textCol: String, isNew: Column => Column,
      shingleK: Int = 5, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val base = graft.Tables.fanOut(
        df.select(col(idCol).as("__id"),
          TextAnalysis.normalizeText(col(textCol)).as("__norm")))
      .select(col("__id"), shingleHashesPortable(col("__norm"), shingleK).as("__h"))
    val sigs = Staging.persist(base
      .select(col("__id"), col("__h"),
        minhashSignature(col("__h"), numHashes).as("__sig")))
    val bandsDf = sigs.select(col("__id"),
      posexplode_outer(transform(sequence(lit(0), lit(bands - 1)),
        b => slice(col("__sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand))))
        .as(Seq("__b", "__band")))
    val l = bandsDf.where(isNew(col("__id")))
      .select(col("__b"), col("__band"), col("__id").as("__idl"))
    val r = bandsDf.select(col("__b"), col("__band"), col("__id").as("__idr"))
    val cands = l.join(r, Seq("__b", "__band"))
      .where(col("__idl") =!= col("__idr"))
      .select(least(col("__idl"), col("__idr")).as("id1"),
        greatest(col("__idl"), col("__idr")).as("id2"))
      .distinct()
    val sets = sigs.select(col("__id"), col("__h"))
    cands
      .join(sets.select(col("__id").as("id1"), col("__h").as("__h1")), "id1")
      .join(sets.select(col("__id").as("id2"), col("__h").as("__h2")), "id2")
      .select(col("id1"), col("id2"),
        round(jaccard(col("__h1"), col("__h2")), 4).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** SimHash near-dups with portable token hashes: the verification twin
    * of [[simhashNearDups]]. Token hash = first 15 hex chars of md5 (a
    * 60-bit value), signature = [[graft.expressions.SimHash64]] over
    * them — bits 60-63 of every input are zero, so their vote sums are
    * strictly negative and those signature bits are always clear: the
    * 64-bit kernel IS the 60-bit portable signature, and the oracle
    * replays bits 0-59. Candidates via 4×15-bit chunks (pigeonhole for
    * Hamming ≤ 3 over the 60 live bits). */
  def simhashNearDupsPortable(
      df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"simhashNearDupsPortable: maxDist must be in [0,3] (got $maxDist)")
    val sigs = graft.Tables.fanOut(
        df.select(col(idCol).as("__id"),
          TextAnalysis.tokens(col(textCol)).as("__toks")))
      .select(col("__id"), transform(col("__toks"),
        t => conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long")).as("__th"))
      .select(col("__id"), simhashExpr(col("__th")).as("__sig"))
    val chunked = sigs.select(col("__id"), col("__sig"),
      transform(sequence(lit(0), lit(3)),
        c => call_function("shiftright", col("__sig"), c * lit(15))
          .bitwiseAND(lit(0x7FFFL))).as("__chunks"))
    val exploded = chunked.select(col("__id"), col("__sig"),
      posexplode_outer(col("__chunks")).as(Seq("__c", "__v")))
    val sized = exploded
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("__c", "__v")))
      .where(col("__n") <= maxBucketSize)
    val l = sized.select(col("__c"), col("__v"), col("__id").as("id1"), col("__sig").as("__sig1"))
    val r = sized.select(col("__c"), col("__v"), col("__id").as("id2"), col("__sig").as("__sig2"))
    l.join(r, Seq("__c", "__v"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("__sig1").bitwiseXOR(col("__sig2"))).cast("int").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxDist)
  }

  /** Exact all-pairs word-token Jaccard over a *bounded* subset — the
    * brute-force baseline the LSH paths approximate. Quadratic by
    * construction; callers bound the input (the spec uses doc_id < N).
    * The arrays are built once per side and the pair join is a broadcast
    * of the smaller side. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val sets = df.select(col(idCol).as("__id"),
      array_distinct(TextAnalysis.tokens(col(textCol))).as("__toks"))
    val l = sets.select(col("__id").as("id1"), col("__toks").as("__t1"))
    val r = sets.select(col("__id").as("id2"), col("__toks").as("__t2"))
    l.join(broadcast(r), col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        round(jaccard(col("__t1"), col("__t2")), 4).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Asymmetric set-containment pairs: C(A→B) = |A∩B| / |A| — "document
    * A's token set is (nearly) contained in B's" — the subset-duplicate
    * detector symmetric Jaccard misses (a quoted article inside a longer
    * page scores low Jaccard but containment ≈ 1). Brute-force over a
    * caller-bounded subset (the ground-truth shape, like
    * [[ngramJaccardPairs]]); the LSH paths remain the scale route for
    * candidate generation. Emits ordered (id1 ≠ id2) pairs with
    * containment ≥ `threshold` in basis points. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val sets = df.select(col(idCol).as("__id"),
      array_distinct(TextAnalysis.tokens(col(textCol))).as("__toks"))
    val l = sets.select(col("__id").as("id1"), col("__toks").as("__t1"))
    val r = sets.select(col("__id").as("id2"), col("__toks").as("__t2"))
    val cont = size(array_intersect(col("__t1"), col("__t2"))).cast("double") /
      greatest(size(col("__t1")), lit(1)).cast("double")
    l.join(broadcast(r), col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"),
        floor(cont * 10000 + 0.5).cast("long").as("containment_bp"))
      .where(col("containment_bp") >= (threshold * 10000).toLong)
  }

  /** C4/CCNet-style cross-corpus line deduplication: drop every line
    * whose exact text occurs in ≥ `maxFreq` documents' lines corpus-wide
    * (navigation chrome, legal footers, subscription prompts), and
    * rebuild each document from its surviving lines in order. Returns
    * `(idCol, kept, dropped, fp)` — fp is the md5 of the cleaned text
    * (the verifiable artifact; production would emit the text itself).
    *
    * Scale: lines explode map-side; ONE shuffle aggregates line
    * frequencies and a sort-merge join carries them back — at 100 TB the
    * frequency table (distinct lines) is itself huge, so no broadcast.
    * Rebuilding sorts each doc's surviving lines by position inside a
    * per-doc aggregate (array_sort of (pos, line) structs — no window,
    * no second shuffle beyond the doc_id aggregation). The explode uses
    * `posexplode_outer` so Catalyst cannot push an inferred
    * `size(split(..)) > 0` filter below the staging projection and
    * re-inline the split per filter evaluation (the generate-inference
    * trap, see [[shingles]]). */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      maxFreq: Int): DataFrame = {
    val lines = df
      .select(col(idCol), split(col(textCol), "\n").as("__lines"))
      .select(col(idCol), posexplode_outer(col("__lines")).as(Seq("pos", "line")))
    val freq = lines.groupBy("line").agg(count(lit(1)).as("__freq"))
    lines.join(freq, Seq("line"))
      .groupBy(col(idCol))
      .agg(
        count(when(col("__freq") < maxFreq, lit(1))).as("kept"),
        count(when(col("__freq") >= maxFreq, lit(1))).as("dropped"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("__freq") < maxFreq,
            struct(col("pos"), col("line"))))),
          s => s.getField("line")), "\n").cast("binary")).as("fp"))
  }

  /** Cross-document duplicated-SPAN detection — the scalable
    * approximation of suffix-array exact-substring dedup (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better"):
    * every `k`-token window is hashed (md5 of the space-joined window —
    * portable, so a SQL oracle replays it bit-for-bit), a window is
    * duplicated iff its hash occurs in ≥ 2 DISTINCT documents, and per
    * document the duplicated windows merge into MAXIMAL spans
    * (gaps-and-islands over window start positions). Returns one row per
    * document that contains at least one duplicated span:
    * `(doc_id, n_spans, dup_tokens, n_tokens, dup_bp)`.
    *
    * Scale design: the tokenized frame is STAGED once (a persisted
    * barrier — without it projection collapse re-inlines the tokenizer
    * into every window slice, the measured >100× blowup class); the one
    * corpus-wide shuffle is the window-hash groupBy and it carries only
    * `(hash, doc_id, pos)` — text never leaves the map side; span
    * merging runs under windows PARTITIONED by document, so no global
    * sort exists anywhere in the plan. */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val tok = Staging.persist(docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("toks")))
    dupReportFromSpans(tok, duplicatedSpans(tok, k))
  }

  /** The per-document duplication report of [[substringDedup]] over a
    * PRECOMPUTED span table — the shared-core variant that lets a
    * caller composing the scrub and the dup-share policy bit (tx39's
    * funnel) pay the corpus-wide span table ONCE for both consumers
    * (round-17 optimization pass: un-shared, the funnel tokenized the
    * corpus and shuffled the window hashes twice). */
  def dupReportFromSpans(tok: DataFrame, sp: DataFrame): DataFrame = {
    val n = tok.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"))
    sp.join(n, "doc_id")
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("en") - col("st") + 1).as("dup_tokens"))
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"),
        col("n_tokens"),
        floor(col("dup_tokens").cast("double") / col("n_tokens") * 10000
          + 0.5).cast("long").as("dup_bp"))
  }

  /** Maximal duplicated-span table (doc_id, st, en; 1-based inclusive
    * token positions) over a STAGED (doc_id, toks) frame: hash every
    * k-token window, keep hashes seen in ≥ 2 distinct docs, merge each
    * doc's duplicated windows into maximal spans (gaps-and-islands).
    * Shared core of [[substringDedup]] (the report) and the span scrub
    * (the removal policy, `tx37_span_scrub`). The one corpus shuffle is
    * the window-hash groupBy carrying (hash, id, pos). */
  def duplicatedSpans(tok: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = Staging.persist(tok.where(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(1), size(col("toks")) - (k - 1)),
          i => md5(array_join(slice(col("toks"), i, lit(k)), " ")))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("h")))
    val dup = wins.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("__nd"))
      .where(col("__nd") >= 2).select("h")
    val d = wins.join(dup, "h").select("doc_id", "pos")
    // Gaps-and-islands: a window starts a new span iff it begins past
    // the running max end of its predecessors + 1 (adjacent windows are
    // contiguous token runs, so they merge too).
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("__pe", max(col("pos") + (k - 1)).over(wPrev))
      .withColumn("__b",
        when(col("__pe").isNull || col("pos") > col("__pe") + 1, 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__b")).over(wRun))
      .groupBy("doc_id", "__isl")
      .agg(min(col("pos")).as("st"), (max(col("pos")) + (k - 1)).as("en"))
      .select("doc_id", "st", "en")
  }

  /** Span SCRUB — the removal policy on [[duplicatedSpans]] (Lee et al.
    * delete duplicated substrings; here every doc drops its duplicated
    * spans, a documented symmetric policy): tokens covered by a span go,
    * the survivors rejoin, and the result is fingerprinted. The span
    * list per doc is bounded by n_tokens/k; membership is an in-row
    * HOF fold — after the span table, scrubbing is embarrassingly
    * map-side. */
  def scrubSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val tok = Staging.persist(docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("toks")))
    scrubFromSpans(tok, duplicatedSpans(tok, k))
  }

  /** The scrub of [[scrubSpans]] over a PRECOMPUTED span table — the
    * shared-core twin of [[dupReportFromSpans]] (same round-17
    * rationale: one span table, two consumers). */
  def scrubFromSpans(tok: DataFrame, sp: DataFrame): DataFrame = {
    val spl = sp
      .groupBy("doc_id")
      .agg(collect_list(struct(col("st"), col("en"))).as("spans"))
    val kept = expr(
      """transform(
        |  filter(transform(toks, (x, i) -> struct(x AS x, i + 1 AS i)),
        |    p -> NOT exists(spans, s -> p.i >= s.st AND p.i <= s.en)),
        |  p -> p.x)""".stripMargin)
    tok.join(spl, Seq("doc_id"), "left")
      .withColumn("kt",
        when(col("spans").isNull, col("toks")).otherwise(kept))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("kt")).cast("long").as("kept_tokens"),
        md5(array_join(col("kt"), " ").cast("binary")).as("scrub_md5"))
  }
}
