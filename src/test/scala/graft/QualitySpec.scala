package graft

import graft.operators.{Dedup, Graph, Relational, Similarity, TextAnalysis, TimeSeries}
import org.apache.spark.sql.functions._

/** Round-4 extension operators: Gopher quality rules, cross-corpus line
  * dedup, int8-quantized ANN, snapshot diff — planted-fixture checks;
  * the hash-exact DuckDB compare runs through the driver oracle. */
class QualitySpec extends SparkSpec {
  import spark.implicits._

  private def gopherRow(text: String) = {
    val df = Seq(text).toDF("t")
      .select(col("t"), TextAnalysis.tokens(col("t")).as("toks"),
        split(col("t"), "\n").as("lines"))
    val sig = df.select(TextAnalysis.gopherSignals(
      col("t"), col("toks"), col("lines")).map { case (n, c) => c.as(n) }: _*)
    sig.select(col("*"), TextAnalysis.gopherKeep(col("n_words"), col("mwl_bp"),
      col("symbol_bp"), col("alpha_bp"), col("bullet_bp"),
      col("ellipsis_bp"), col("n_stop")).as("keep")).collect()(0)
  }

  test("gopher signals: clean prose passes, each rule family fires") {
    val clean = gopherRow(("the quick brown fox jumps over one lazy dog " * 10).trim)
    assert(clean.getAs[Long]("n_words") == 90L)
    assert(clean.getAs[Int]("keep") == 1)

    // Too short.
    assert(gopherRow("the tiny doc").getAs[Int]("keep") == 0)
    // Symbol soup: ### runs push symbol_bp over 10%.
    val sym = gopherRow(("the word " * 30).trim + " ##########")
    assert(sym.getAs[Long]("symbol_bp") > 1000L)
    assert(sym.getAs[Int]("keep") == 0)
    // Bullet-dominated layout.
    val bullets = ("- the point is here\n" * 20).trim
    val b = gopherRow(bullets)
    assert(b.getAs[Long]("bullet_bp") == 10000L)
    assert(b.getAs[Int]("keep") == 0)
    // Ellipsis-heavy teaser lines.
    val e = gopherRow(("the story continues...\n" * 10).trim)
    assert(e.getAs[Long]("ellipsis_bp") == 10000L)
    // Mean word length: digit spam has mwl outside [3,10].
    val digits = gopherRow(("77 " * 60).trim)
    assert(digits.getAs[Long]("mwl_bp") == 20000L)
    assert(digits.getAs[Int]("keep") == 0)
  }

  test("dedupLines drops corpus-frequent lines, keeps order, counts exactly") {
    val docs = (0L to 9L).map { i =>
      val boiler = if (i % 2 == 0) "\nsubscribe now" else ""
      (i, s"unique body $i line one\nunique body $i line two" + boiler)
    }.toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "doc_id", "text", maxFreq = 3)
      .orderBy("doc_id").collect()
    assert(out.length == 10)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("kept") == 2L)
      assert(r.getAs[Long]("dropped") == (if (id % 2 == 0) 1L else 0L))
    }
    // Rebuilt text = the two body lines joined in original order.
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest("unique body 3 line one\nunique body 3 line two".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out(3).getAs[String]("fp") == expect)
  }

  test("int8TopK matches exact brute-force top-k on separable vectors") {
    // 20 base vectors spread along two axes + a query near axis 0: int8
    // quantization error is far below the separation, so candidate
    // ranking and the exact rerank must agree with brute force.
    val base = (0 until 20).map { i =>
      val v = Array.fill(8)(0.001f * i)
      v(i % 2) = if (i % 2 == 0) 1.0f - 0.01f * i else 0.5f + 0.01f * i
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val q = base.where(col("vec_id") === 0)
    val fast = Similarity.int8TopK(base, "vec_id", "embedding", q, "embedding",
      k = 5, cand = 10).select("vec_id").as[Long].collect()
    val exact = Similarity.bruteForceTopK(base, "vec_id", "embedding", q,
      "embedding", k = 5).select("vec_id").as[Long].collect()
    assert(fast.sameElements(exact))
  }

  test("int8TopK: zero vectors quantize safely (no division blowup)") {
    val base = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.int8TopK(base, "vec_id", "embedding",
      base.where(col("vec_id") === 0), "embedding", k = 3, cand = 3)
      .collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[Long]("vec_id")).contains(1L))
  }

  test("exactQuantiles == percentile() aggregate, including interpolation and ties") {
    // 101 values with planted ties; positions hit both integral and
    // fractional ranks. The sort-based path must reproduce the
    // aggregate's doubles bit-for-bit (same interpolation formula).
    val vals = ((0 until 90).map(i => (i * 7 % 45) * 1.1) ++ Seq.fill(11)(3.3))
      .toDF("x")
    val qs = Seq(0.0, 0.25, 0.5, 0.613, 0.75, 1.0)
    val sorted = Relational.exactQuantiles(vals, "x", qs)
    val agg = vals.selectExpr(
      s"percentile(x, array(${qs.mkString(",")})) as ps")
      .collect()(0).getSeq[Double](0)
    assert(sorted == agg.toSeq)
  }

  test("subseqSearch: affine copies of the pattern match at distance 0") {
    // z-normalized distance is offset/scale invariant: the series embeds
    // 10,20,…,80 (an affine image of the 1..8 ramp) at position 4 — that
    // window must score dist_bp = 0 and rank first. Flat windows score
    // ‖zp‖² = w exactly (all-zero z by convention) → 80000 bp.
    val vals = Seq(5.0, 5.0, 5.0) ++ (1 to 8).map(_ * 10.0) ++ Seq(5.0, 5.0)
    val events = vals.zipWithIndex.map { case (v, i) =>
      (1L, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"), i.toLong, v)
    }.toDF("user_id", "ts", "event_id", "value")
    val out = TimeSeries.subseqSearch(events, "user_id", "ts", "event_id",
      "value", (1 to 8).map(_.toDouble), k = 3)
      .as[(Long, Long, Long)].collect()
    assert(out.head == ((1L, 4L, 0L)))
    val flat = Seq.fill(10)(7.0).zipWithIndex.map { case (v, i) =>
      (2L, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"), i.toLong, v)
    }.toDF("user_id", "ts", "event_id", "value")
    val flatOut = TimeSeries.subseqSearch(flat, "user_id", "ts", "event_id",
      "value", (1 to 8).map(_.toDouble), k = 1)
      .as[(Long, Long, Long)].collect()
    assert(flatOut.head._3 == 80000L)
  }

  test("weightedSample: deterministic, weight-dominant row always drawn") {
    val rows = (1L to 1000L).map(i =>
      (i, if (i == 500L) 1e9 else 1.0)).toDF("k", "w")
    val s1 = Relational.weightedSample(rows, "k", "w", k = 50)
      .select("k").as[Long].collect()
    val s2 = Relational.weightedSample(rows, "k", "w", k = 50)
      .select("k").as[Long].collect()
    assert(s1.sameElements(s2))
    assert(s1.contains(500L))
    // Uniform weights → the draw is a pure hash order, still k distinct.
    assert(s1.distinct.length == 50)
  }

  test("incremental LSH = full-pair LSH restricted to pairs touching the increment") {
    val textA = "the quick brown fox jumps over the lazy dog near the river bank"
    val textB = "completely unrelated text about spark shuffle partition tuning"
    val docs = Seq( // new = doc_id % 10 == 0, i.e. only doc 10
      (1L, textA), (2L, textA), (10L, textA), (11L, textB), (21L, textB))
      .toDF("doc_id", "text")
    val isNew = (id: org.apache.spark.sql.Column) => pmod(id, lit(10)) === 0
    val full = Dedup.minhashNearDupsPortable(docs, "doc_id", "text",
        shingleK = 5, numHashes = 16, bands = 8, threshold = 0.8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val inc = Staging.scope(spark)(Dedup.minhashNearDupsIncremental(docs,
        "doc_id", "text", isNew, shingleK = 5, numHashes = 16, bands = 8,
        threshold = 0.8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet)
    val expected = full.filter { case (a, b) => a % 10 == 0 || b % 10 == 0 }
    assert(inc == expected)
    assert(inc == Set((1L, 10L), (2L, 10L)))
    assert(full.contains((1L, 2L)) && full.contains((11L, 21L))) // old-old: full only
  }

  test("pageRank: uniform on a cycle, center-heavy on a star, mass conserved") {
    // Directed 10-cycle: every node has out-degree 1, so the uniform
    // vector is the exact fixpoint — and the picounit fixed-pointing is
    // exact for 0.1, so ranks stay EXACTLY 0.1.
    val cycle = (0L until 10L).map(i => (i, (i + 1) % 10)).toDF("src", "dst")
    val cp = Staging.scope(spark)(
      Graph.pageRank(cycle, iterations = 5).select("p").as[Double].collect())
    assert(cp.length == 10 && cp.forall(_ == 0.1))

    // Star: leaves 1..5 all point at 0; 0 points at 1. The center must
    // rank strictly highest, and total mass stays 1 (no dangling nodes).
    val star = ((1L to 5L).map(i => (i, 0L)) :+ ((0L, 1L))).toDF("src", "dst")
    val sp = Staging.scope(spark)(Graph.pageRank(star, iterations = 20)
      .orderBy(desc("p")).as[(Long, Double)].collect())
    assert(sp.head._1 == 0L)
    assert(math.abs(sp.map(_._2).sum - 1.0) < 1e-6)
  }

  test("q95 profiler counts nulls/distincts on a corpus WITH nulls") {
    // The harness orders table is null-free, so the oracle never
    // exercises the null paths — this fixture does.
    val dir = java.nio.file.Files.createTempDirectory("graft_prof").toString
    Seq(
      (1L, Option(10L), Option(1.5), Option("O"), Option("HIGH"), 0L),
      (2L, None: Option[Long], Option(2.5), Option("F"), None: Option[String], 0L),
      (3L, Option(10L), None: Option[Double], Option("O"), Option("LOW"), 0L))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
        "o_orderpriority", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q95_profile_table")(spark, dir)
      .collect().map(r => r.getAs[String]("col_name") -> r).toMap
    assert(out.values.forall(_.getAs[Long]("n_rows") == 3L))
    assert(out("o_custkey").getAs[Long]("n_nulls") == 1L)
    assert(out("o_custkey").getAs[Long]("n_distinct") == 1L) // nulls excluded
    assert(out("o_orderpriority").getAs[Long]("n_nulls") == 1L)
    assert(out("o_totalprice").getAs[Double]("max_num") == 2.5)
    assert(out("o_orderstatus").getAs[String]("min_str") == "F")
    assert(out("o_orderkey").getAs[Any]("min_str") == null)
  }

  test("tx20 mixture rebalance: rates from exact counts, draw deterministic") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mix").toString
    (0 until 100).map(i => (i.toLong, s"doc $i", s"src${i % 4}"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val run = () => SparkEntry.queries("tx20_mixture_rebalance")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("kept"), r.getAs[Long]("n_src"), r.getAs[Long]("rate_bp")))
      .toMap
    val out = run()
    // 4 sources × 25 docs; rate = min(1, (idx%4+1)/50 · 100/25).
    assert(out.keySet == Set("src0", "src1", "src2", "src3"))
    (0 to 3).foreach { i =>
      val (kept, nSrc, rateBp) = out(s"src$i")
      assert(nSrc == 25L)
      assert(rateBp == 800L * (i + 1))
      assert(kept <= nSrc)
    }
    Tables.invalidate(spark, dir)
    assert(run() == out) // same draw on re-run: no RNG state anywhere
  }

  test("q96 MAD flags exactly the planted extreme point") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mad").toString
    val vals = (1 to 9).map(_.toDouble) :+ 100.0
    vals.zipWithIndex.map { case (v, i) => (i.toLong, 0L, 1L, "a", v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q96_mad_outliers")(spark, dir).collect()(0)
    // med 5.5, MAD 2.5 → 3·MAD = 7.5: only |100−5.5| = 94.5 exceeds it.
    assert(r.getAs[Long]("n") == 10L)
    assert(r.getAs[Long]("n_outliers") == 1L)
    assert(r.getAs[Long]("med_bp") == 55000L)
    assert(r.getAs[Long]("mad_bp") == 25000L)
  }

  test("snapshotDiff classifies added/removed/changed with null-safe compare") {
    val a = Seq(
      (1L, Option("x"), Option(10.0)), (2L, Option("y"), Option(20.0)),
      (3L, None: Option[String], Option(30.0)), (4L, Option("z"), Option(40.0)))
      .toDF("k", "s", "v")
    val b = Seq(
      (1L, Option("x"), Option(10.0)),            // unchanged → absent
      (2L, Option("y"), Option(21.0)),            // changed: v
      (3L, Option("now"), Option(30.0)),          // changed: s (NULL → value)
      (5L, Option("new"), None: Option[Double]))  // added
      .toDF("k", "s", "v")                        // 4 removed
    val out = Relational.snapshotDiff(a, b, "k").orderBy("k")
      .as[(Long, String, String)].collect()
    assert(out.toSeq == Seq(
      (2L, "changed", "v"), (3L, "changed", "s"),
      (4L, "removed", ""), (5L, "added", "")))
  }
}
