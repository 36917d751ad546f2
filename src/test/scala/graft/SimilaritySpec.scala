package graft

import graft.operators.Similarity
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

/** Vector similarity: exact cosine math, brute-force top-k, and the two
  * sublinear paths (SRP-LSH, IVF) against the exact baseline. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("ss7 recall gate: multiprobe SRP-LSH recall@10 >= 8/10 on the harness table") {
    val hits = graft.SparkEntry.queries("ss7_ann_recall")(spark, "/root/testdata/sf0.01")
      .select("n_hits").as[Long].head()
    assert(hits >= 8L, s"multiprobe recall@10 dropped to $hits/10")
  }

  test("windowRms: known samples produce the closed-form RMS, short payloads empty") {
    import graft.operators.Multimodal
    val out = Seq("AAAA" * 32, "short").toDF("text") // 128 'A's -> 2 windows of 64
      .select(Multimodal.pcmSamples(col("text").cast("binary")).as("s"))
      .select(Multimodal.windowRms(col("s"), 64).as("r"))
      .as[Seq[Long]].collect()
    assert(out(0) == Seq(6500L, 6500L)) // 'A' = 65 -> RMS 65.00
    assert(out(1).isEmpty)
  }

  test("cosine on known vectors") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), 1.0),
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), 0.0),
      (Seq(1.0f, 0.0f), Seq(-1.0f, 0.0f), -1.0),
      (Seq(1.0f, 2.0f), Seq(2.0f, 4.0f), 1.0),
      (Seq(0.0f, 0.0f), Seq(1.0f, 1.0f), 0.0) // zero vector guard
    ).toDF("a", "b", "expected")
    val rows = df.select(Similarity.cosine(col("a"), col("b")).as("c"), col("expected"))
      .as[(Double, Double)].collect()
    rows.foreach { case (c, e) => assert(math.abs(c - e) < 1e-9) }
  }

  private lazy val vecs = {
    // 3 tight clusters around orthogonal axes in R^4 + ids.
    val rows = for {
      (axis, label) <- Seq(0, 1, 2).zipWithIndex
      i <- 0 until 10
    } yield {
      val base = Array.fill(4)(0.01f * i)
      base(axis) = 1.0f
      (label.toLong * 10 + i, base.toSeq, label)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("bruteForceTopK returns the query's own cluster first") {
    val q = vecs.where(col("vec_id") === 0).select(col("embedding"))
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, "embedding", 10)
      .select("vec_id").as[Long].collect()
    assert(top.head == 0L) // self-similarity = 1
    assert(top.forall(_ < 10L)) // all from cluster 0
  }

  test("annTopK candidates are reranked by exact cosine and include self") {
    val q = vecs.where(col("vec_id") === 0).select(col("embedding"))
    val ann = Similarity.annTopK(vecs, "vec_id", "embedding", dim = 4,
      q, "embedding", k = 5, nPlanes = 8, nTables = 3)
      .select("vec_id").as[Long].collect()
    assert(ann.nonEmpty)
    assert(ann.head == 0L)
  }

  test("ivfTopK with label quantizer finds the right cluster") {
    val q = vecs.where(col("vec_id") === 0).select(col("embedding"))
    val out = Similarity.ivfTopK(vecs, "vec_id", "embedding", "label",
      q, "embedding", k = 5, nProbe = 1)
      .select("vec_id").as[Long].collect()
    assert(out.head == 0L)
    assert(out.forall(_ < 10L)) // probe stayed in cluster-0 partition
  }

  test("cosineFast (codegen expression) is bit-identical to the HOF cosine") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val both = emb.crossJoin(q)
      .select(Similarity.cosine(col("embedding"), col("qv")).as("hof"),
        Similarity.cosineFast(col("embedding"), col("qv")).as("gen"))
      .where(col("hof") =!= col("gen"))
    assert(both.count() == 0) // exact equality, not approximate
    // Null propagation + zero-vector guard:
    val edge = Seq(
      (Some(Seq(0.0f, 0.0f)), Some(Seq(1.0f, 1.0f))),
      (None, Some(Seq(1.0f, 1.0f)))
    ).toDF("a", "b")
      .select(Similarity.cosineFast(col("a"), col("b")).as("c"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(edge.toSeq == Seq(Some(0.0), None))
  }

  test("VectorMean aggregator: element-wise mean with partial merge") {
    val df = Seq(
      (0, Seq(1.0f, 2.0f)), (0, Seq(3.0f, 4.0f)), (1, Seq(10.0f, 20.0f))
    ).toDF("label", "v").repartition(3) // force partial buffers + merge
    val vm = udaf(new graft.functions.VectorMean(2))
    val out = df.groupBy(col("label")).agg(vm(col("v")).as("m"))
      .as[(Int, Seq[Double])].collect().toMap
    assert(out(0) == Seq(2.0, 3.0))
    assert(out(1) == Seq(10.0, 20.0))
  }

  test("ANN recall@10 vs brute force on harness embeddings") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where(col("vec_id") === 0)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "embedding", 10)
      .select("vec_id").as[Long].collect().toSet
    val lsh = Similarity.annTopK(emb, "vec_id", "embedding", 64, q, "embedding", 10,
      nPlanes = 5, nTables = 6).select("vec_id").as[Long].collect().toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", "label", q, "embedding", 10,
      nProbe = 3).select("vec_id").as[Long].collect().toSet
    // Approximate methods: require meaningful (not perfect) recall, and
    // always the query itself.
    assert(lsh.contains(0L) && (lsh & exact).size >= 3, s"lsh recall ${(lsh & exact).size}")
    assert(ivf.contains(0L) && (ivf & exact).size >= 3, s"ivf recall ${(ivf & exact).size}")
    // Multiprobe can only widen the candidate set → recall must not drop.
    val mp = Similarity.annTopK(emb, "vec_id", "embedding", 64, q, "embedding", 10,
      nPlanes = 5, nTables = 6, multiprobe = true).select("vec_id").as[Long].collect().toSet
    assert(mp.contains(0L) && (mp & exact).size >= (lsh & exact).size,
      s"multiprobe recall ${(mp & exact).size} < exact-probe ${(lsh & exact).size}")
  }

  test("pqTopK: PQ candidates rerank to include self, recall vs brute force") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where(col("vec_id") === 0)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "embedding", 10)
      .select("vec_id").as[Long].collect().toSet
    val pq = Similarity.pqTopK(emb, "vec_id", "embedding", q, "embedding",
      emb.where(col("vec_id") < 16), "vec_id", k = 10, cand = 50)
      .select("vec_id").as[Long].collect().toSet
    assert(pq.contains(0L), "PQ top-k must contain the query itself")
    assert((pq & exact).size >= 3, s"pq recall ${(pq & exact).size}/10")
  }

  test("cosineNearDupPairs finds within-cluster pairs only at high threshold") {
    val pairs = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.99)
      .select("id1", "id2").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => a / 10 == b / 10 }) // same cluster
  }

  test("knnJoin: per-query bounded top-k equals window ranking") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val base = emb.where(col("vec_id") >= 10)
    val qs = emb.where(col("vec_id") < 4)
    val knn = Similarity.knnJoin(base, "vec_id", "embedding",
      qs, "vec_id", "embedding", k = 5)
      .select("qid", "vec_id", "rank").as[(Long, Long, Long)].collect()
    assert(knn.length == 4 * 5)
    // Independent reference: full window ranking over the same cosines.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    val ref = base.crossJoin(broadcast(qs.select(col("vec_id").as("qid"),
        col("embedding").as("qv"))))
      .select(col("qid"), col("vec_id"),
        round(Similarity.cosineFast(col("embedding"), col("qv")), 6).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select("qid", "vec_id", "rank").as[(Long, Long, Long)].collect()
    assert(knn.toSet == ref.toSet)
  }

  test("kmeans: planted clusters separate; trajectory is deterministic") {
    // Two tight groups in 2-D; the fixed seed (ids 0 and 1) starts BOTH
    // centroids inside group A, so convergence requires the mean-update
    // to actually pull centroid 1 across — 3 iterations suffice.
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(0.1f, 0.0f)),
      (2L, Seq(10.0f, 10.0f)), (3L, Seq(10.1f, 10.0f)))
      .toDF("id", "v")
    val out = Similarity.kmeans(pts, "id", "v", k = 2, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == out(1L) && out(2L) == out(3L) && out(0L) != out(2L))
    val again = Similarity.kmeans(pts, "id", "v", k = 2, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == again)
  }

  test("kmeans: duplicate seed vectors — empty cluster keeps its centroid") {
    // Seeds are identical, so round 1 ties every point to cluster 0
    // (min index) and cluster 1 goes EMPTY — it must keep its [0,0]
    // centroid rather than divide by zero. Round 2: cluster 0's centroid
    // moved to the global mean, so the retained [0,0] centroid reclaims
    // the two origin points; the split is then stable.
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(0.0f, 0.0f)), (2L, Seq(5.0f, 5.0f)))
      .toDF("id", "v")
    val out = Similarity.kmeans(pts, "id", "v", k = 2, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 1L, 1L -> 1L, 2L -> 0L))
  }

  test("TopKByScore aggregator: order, bound, and merge associativity") {
    val agg = new graft.functions.TopKByScore(3)
    val items = Seq((0.5, 7L), (0.9, 3L), (0.9, 1L), (0.1, 9L), (0.7, 2L))
    val all = items.foldLeft(agg.zero)(agg.reduce)
    assert(all == Seq((0.9, 1L), (0.9, 3L), (0.7, 2L))) // ties → id asc
    // Any split point merges to the same top-k as the sequential fold.
    for (cut <- 0 to items.length) {
      val (l, r) = items.splitAt(cut)
      val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      assert(merged == all, s"cut=$cut")
    }
  }

  test("binaryTopK: sign-identical vector found at Hamming 0; rerank is exact cosine") {
    import spark.implicits._
    // 64-dim vectors. id 0 = query; id 1 = same signs, different
    // magnitudes (Hamming 0, cosine < 1); id 2 = query exactly (cosine
    // 1); id 3 = all signs flipped (Hamming 64 — must rank last and
    // fall outside cand when cand is small).
    val base = (0 until 64).map(i => if (i % 3 == 0) 1.0f else -0.5f)
    val sameSign = base.map(_ * 7.0f)
    val flipped = base.map(-_)
    val df = Seq(
      (0L, base), (1L, sameSign), (2L, base), (3L, flipped))
      .toDF("id", "v")
    val out = Similarity.binaryTopK(df, "id", "v",
      df.where($"id" === 0), "v", k = 3, cand = 3)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // cand=3 keeps the three Hamming-0 rows; flipped is pruned.
    assert(rows.map(_._1).toSet == Set(0L, 1L, 2L))
    assert(rows.forall(_._2 == 0L))
    // Exact-cosine rerank: the two copies of the query score 1.0; the
    // rescaled vector scores 1.0 too (cosine is scale-invariant) — all
    // three tie at 1.0 and order by id.
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(rows.forall(_._3 == 1.0))
  }

  // ---- k-means rounds (treeAggregate) and NearestCentroid ----

  private val fv = StructType(Seq(StructField("id", LongType),
    StructField("v", ArrayType(FloatType, containsNull = true))))

  private def floatRows(rows: Seq[(Long, Seq[java.lang.Float])]) =
    rows.map { case (i, v) => Row(i, v) }

  /** `(id, vector)` rows with nullable vectors and elements. */
  private def floatPts(rows: Seq[(Long, Seq[java.lang.Float])]) =
    spark.createDataFrame(java.util.Arrays.asList(floatRows(rows): _*), fv)

  private def f(xs: Float*): Seq[java.lang.Float] = xs.map(Float.box)

  /** Result rows as id → (cluster, d2_ppm), NULLs as None. */
  private def assignments(df: DataFrame) =
    df.collect().map(r => r.getLong(0) -> (
      if (r.isNullAt(1)) None else Some(r.getLong(1)),
      if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap

  /** The DataFrame round k-means ran before its rounds became one
    * treeAggregate each: `posexplode` the vectors, `groupBy(cl, d)`
    * fixed-point sums and counts, `collect`. Kept as the reference. */
  private def kmeansReference(df: DataFrame, k: Int, iterations: Int) = {
    def nearest(v: Column, cs: Seq[Seq[Double]]) =
      GraftColumnBridge.column(graft.expressions.NearestCentroid(
        GraftColumnBridge.expression(v), GraftColumnBridge.expression(
          array(cs.map(c => array(c.map(lit): _*)): _*))))
    val fp = 1e9
    val pts = df.select(col("id").cast("long").as("id"),
      transform(col("v"), x => x.cast("double")).as("v")).cache()
    try {
      var centroids: Seq[Seq[Double]] = pts.orderBy("id").limit(k)
        .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
      val dims = centroids.head.size
      for (_ <- 1 to iterations) {
        val sums = pts
          .select(nearest(col("v"), centroids).getField("j").as("cl"),
            posexplode(col("v")).as(Seq("d", "x")))
          .groupBy("cl", "d")
          .agg(sum(floor(col("x") * fp + 0.5).cast("long")).as("s"),
            count(lit(1)).as("c"))
          .select(col("cl"), col("d"),
            ((col("s").cast("double") / col("c")) / fp).as("cd"))
          .collect()
        val byCluster = sums.groupBy(_.getLong(0))
        centroids = centroids.zipWithIndex.map { case (old, j) =>
          byCluster.get(j.toLong) match {
            case Some(rows) =>
              val m = rows.map(r => r.getInt(1) -> r.getDouble(2)).toMap
              (0 until dims).map(m)
            case None => old
          }
        }
      }
      assignments(pts.select(col("id"), nearest(col("v"), centroids).as("m"))
        .select(col("id"), col("m.j").as("cluster"),
          floor(col("m.d") * 1e6 + 0.5).cast("long").as("d2_ppm")))
    } finally pts.unpersist()
  }

  /** 320 seeded 16-d float points around 6 planted centers. Seeds are
    * ids 0..5: ids 0 and 1 are the unit vectors e0 and e1, and id 6 is
    * the origin, exactly 1.0 from both (the rest are ≥ 2.0 away), so
    * round 1 must break that tie to index 0. Ids 300..319 duplicate
    * ids 7..26. */
  private lazy val kmeansRows = {
    val rnd = new scala.util.Random(20261019)
    val dims = 16
    val centers = Array.fill(6)(Array.fill(dims)((rnd.nextInt(9) - 4).toFloat))
    def unit(i: Int) = Array.tabulate(dims)(d => if (d == i) 1.0f else 0.0f)
    val seeds = Seq(unit(0), unit(1)) ++ (2 until 6).map(j =>
      Array.tabulate(dims)(d => if (d == j) 2.0f else if (d == j + 6) -2.0f else 0.0f))
    val base = seeds ++ Seq(Array.fill(dims)(0.0f)) ++ (7 until 300).map { i =>
      val c = centers(i % 6)
      Array.tabulate(dims)(d => c(d) + (rnd.nextGaussian() * 0.7).toFloat)
    }
    val all = base ++ (7 until 27).map(base(_))
    floatRows(all.zipWithIndex.map { case (v, i) => (i.toLong, f(v.toIndexedSeq: _*)) })
  }
  private lazy val kmeansFixture =
    spark.createDataFrame(java.util.Arrays.asList(kmeansRows: _*), fv)

  test("kmeans: each round matches the DataFrame-round reference row for row") {
    for (iters <- Seq(1, 5)) {
      val got = assignments(Similarity.kmeans(kmeansFixture, "id", "v",
        k = 6, iterations = iters))
      val ref = kmeansReference(kmeansFixture, k = 6, iterations = iters)
      assert(got.size == 320 && got == ref, s"iterations=$iters")
      assert(got.values.forall(_._1.isDefined))
    }
    // Duplicates land together, and the tie point takes the smaller index
    // against the seeds themselves.
    val seedOnly = assignments(Similarity.kmeans(kmeansFixture, "id", "v",
      k = 6, iterations = 0))
    assert(seedOnly(6L) == (Some(0L), Some(1000000L)))
    val five = assignments(Similarity.kmeans(kmeansFixture, "id", "v", 6, 5))
    (7 until 27).foreach(i => assert(five(i.toLong) == five(293L + i)))
  }

  test("kmeans: building the result runs 1 + iterations jobs, none with a shuffle") {
    import org.apache.spark.sql.GraftColumnBridge.drainListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    // A job that shuffles lists its map stage beside the result stage.
    val stagesPerJob = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        stagesPerJob.add(e.stageInfos.size)
    }
    // Seven partitions: a depth-2 treeAggregate would add a shuffle here.
    val input = spark.createDataFrame(sc.parallelize(kmeansRows, 7), fv)
    drainListenerBus(sc)
    sc.addSparkListener(listener)
    val out = try {
      val o = Similarity.kmeans(input, "id", "v", k = 6, iterations = 5)
      drainListenerBus(sc)
      o
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val jobs = stagesPerJob.asScala.toSeq
    assert(jobs.size == 1 + 5, jobs)
    assert(jobs.forall(_ == 1), jobs)
    assert(assignments(out) == kmeansReference(kmeansFixture, 6, 5))
  }

  test("kmeans: nothing stays pinned after 20 calls and a release") {
    graft.operators.Dedup.releaseCaches(spark)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    for (_ <- 1 to 20)
      assert(Similarity.kmeans(kmeansFixture, "id", "v", 6, 2).count() == 320)
    graft.operators.Dedup.releaseCaches(spark)
    assert(sc.getPersistentRDDs.keySet == before)
    assert(before.isEmpty, s"pinned before the loop: $before")
  }

  /** Non-seed point `bad` (id 10) among clean points: it gets NULL
    * cluster and d2_ppm, and every other row is as if it were absent. */
  private def assertJoinsNoCluster(bad: Seq[java.lang.Float]): Unit = {
    val clean = Seq(0L -> f(0, 0), 1L -> f(5, 5), 2L -> f(0.5f, 0),
      3L -> f(5, 4.5f), 4L -> f(1, 1))
    val want = assignments(Similarity.kmeans(floatPts(clean), "id", "v", 2, 3))
    val got = assignments(Similarity.kmeans(floatPts(clean :+ (10L -> bad)),
      "id", "v", 2, 3))
    assert(got == want + (10L -> (None, None)))
  }

  test("kmeans: a non-seed NULL vector joins no cluster") {
    assertJoinsNoCluster(null)
  }

  test("kmeans: a non-seed vector with a NULL element joins no cluster") {
    assertJoinsNoCluster(Seq(Float.box(1.0f), null))
  }

  test("kmeans: a non-seed vector of another length joins no cluster") {
    assertJoinsNoCluster(f(1, 1, 1))
  }

  test("kmeans: a defective seed fails naming its id") {
    for (bad <- Seq(null, Seq(Float.box(1.0f), null), f(1, 1, 1))) {
      val pts = floatPts(Seq(0L -> f(0, 0), 1L -> bad, 2L -> f(5, 5)))
      val e = intercept[IllegalArgumentException](
        Similarity.kmeans(pts, "id", "v", k = 2, iterations = 1))
      assert(e.getMessage.contains("seed id 1"), e.getMessage)
    }
  }

  test("kmeans: k < 1 or iterations < 0 is rejected") {
    val pts = floatPts(Seq(0L -> f(0, 0), 1L -> f(1, 1)))
    intercept[IllegalArgumentException](Similarity.kmeans(pts, "id", "v", 0, 1))
    intercept[IllegalArgumentException](Similarity.kmeans(pts, "id", "v", 1, -1))
  }

  test("NearestCentroid: interpreted, generated and scalar paths agree") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.DoubleType
    import graft.expressions.NearestCentroid
    def arr(xs: Any*) = new GenericArrayData(xs.toArray[Any])
    def mat(rows: Seq[Any]*) = arr(rows.map(r => arr(r: _*)): _*)
    def result(r: InternalRow) =
      Option(r).map(s => (s.getDouble(0), s.getLong(1)))
    def check(floatVec: Boolean, vec: GenericArrayData, m: GenericArrayData,
        want: Option[(Double, Long)]): Unit = {
      val expr = NearestCentroid(
        BoundReference(0, ArrayType(if (floatVec) FloatType else DoubleType), nullable = true),
        BoundReference(1, ArrayType(ArrayType(DoubleType)), nullable = true))
      val row = new GenericInternalRow(Array[Any](vec, m))
      val interpreted = result(expr.eval(row).asInstanceOf[InternalRow])
      val proj = GenerateMutableProjection.generate(Seq(expr))
      val g = proj(row)
      val generated = if (g.isNullAt(0)) None else result(g.getStruct(0, 2))
      val scalar = result(NearestCentroid.nearest(vec, floatVec, m))
      assert(interpreted == want && generated == want && scalar == want,
        s"want $want: interpreted $interpreted generated $generated scalar $scalar")
    }
    val ties = mat(Seq(9.0, 9.0), Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0))
    for (fl <- Seq(true, false)) {
      def v(xs: Any*) = arr(xs.map {
        case d: Double if fl => d.toFloat
        case x => x
      }: _*)
      // Rows 1, 2 and 3 all lie exactly 1.0 away: the smallest index wins.
      check(fl, v(0.0, 0.0), ties, Some((1.0, 1L)))
      check(fl, v(0.5, 0.25), mat(Seq(0.0, 0.0), Seq(1.0, 0.0)), Some((0.3125, 0L)))
      check(fl, v(1.0, null), ties, None)
      check(fl, v(1.0, 0.0), mat(Seq(1.0, 0.0), Seq(0.0, null)), None)
      check(fl, v(1.0, 0.0, 0.0), ties, None)
      check(fl, v(1.0, 0.0), arr(), None)
    }
    // Float elements widen exactly: 0.1f is not 0.1.
    val e = 0.1f.toDouble - 0.1
    check(true, arr(0.1f), mat(Seq(0.1)), Some((e * e, 0L)))
    check(false, arr(0.1), mat(Seq(0.1)), Some((0.0, 0L)))
  }
}
