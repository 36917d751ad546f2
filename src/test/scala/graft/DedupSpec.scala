package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** Dedup operators: planted exact and near duplicates must be found; the
  * approximate paths (MinHash-LSH, SimHash) are checked against exact
  * Jaccard ground truth on the same corpus. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // Corpus: 0/1 near-identical (one word changed), 2 = exact copy of 0,
  // 3/4 unrelated.
  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy cat near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (3L, "completely different content about spark partitions and shuffle tuning"),
    (4L, "yet another unrelated document mentioning neither foxes nor rivers")
  ).toDF("doc_id", "text")

  test("exactDupGroups collapses exact copies to one keeper") {
    val groups = Dedup.exactDupGroups(docs, "doc_id", col("text"))
    val dups = groups.where(col("n_copies") > 1).collect()
    assert(dups.length == 1)
    assert(dups.head.getAs[Long]("keep_id") == 0L)
    assert(dups.head.getAs[Long]("n_copies") == 2L)
    assert(Dedup.dropExact(docs, "text").count() == 4)
  }

  test("minhashNearDups finds planted near-dup and exact pair, skips unrelated") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        shingleK = 5, numHashes = 64, bands = 16, threshold = 0.6)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L))) // exact copy: jaccard 1.0
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 2L))) // near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash jaccard estimate tracks exact jaccard") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.0)
      .where(col("id1") === 0 && col("id2") === 2)
      .select("jaccard").as[Double].head()
    assert(exact == 1.0) // identical docs
  }

  test("simhash of identical docs is identical; near-dups within distance") {
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = 3)
      .select("id1", "id2", "hamming").as[(Long, Long, Int)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((0L, 2L)) == 0) // exact copies: distance 0
    // The one-word change (0,1): recompute its true signature distance
    // and assert the candidate join's verdict matches it exactly within
    // the guaranteed-recall radius.
    val sig = docs
      .select(col("doc_id"), Dedup.simhashExpr(
        transform(TextAnalysis.tokens(col("text")), t => xxhash64(t))).as("sig"))
      .as[(Long, Long)].collect().toMap
    val ham01 = java.lang.Long.bitCount(sig(0L) ^ sig(1L))
    assert(pairs.get((0L, 1L)) == (if (ham01 <= 3) Some(ham01) else None))
    // Out-of-range maxDist is rejected, not silently incomplete.
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = 12)
    }
  }

  test("connectedComponents: chains, cliques and singleton pairs get min-id labels") {
    // Components: {1,2,3,4} via a chain (diameter 3 — forces multiple
    // propagation rounds), {10,11,12} via a triangle, {20,21} via one edge.
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)
    ).toDF("id1", "id2")
    val got = Staging.scope(spark)(
      Dedup.connectedComponents(pairs, "id1", "id2").as[(Long, Long)]
        .collect().toMap)
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connectedComponentsStar: matches min-label on a 60-node chain plus cliques") {
    // A 60-hop chain is the adversarial case for diameter-bound
    // algorithms — alternating star rounds must still land the one
    // component, matching min-label propagation's labels exactly.
    val chain = (100L until 160L).sliding(2).map(w => (w(0), w(1))).toSeq
    val pairs = (chain ++ Seq(
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)
    )).toDF("id1", "id2")
    val star = Dedup.connectedComponentsStar(pairs, "id1", "id2")
      .as[(Long, Long)].collect().toMap
    val prop = Staging.scope(spark)(
      Dedup.connectedComponents(pairs, "id1", "id2").as[(Long, Long)]
        .collect().toMap)
    assert(star == prop)
    assert(star(159L) == 100L && star(12L) == 10L && star(21L) == 20L)
    // Empty pair list → empty labels (contract parity).
    assert(Staging.scope(spark)(Dedup.connectedComponentsStar(
      Seq.empty[(Long, Long)].toDF("id1", "id2"), "id1", "id2").count()) == 0)
  }

  test("shingles: distinct char k-grams of staged normalized text") {
    val out = Seq("a b").toDF("text")
      .select(TextAnalysis.normalizeText(col("text")).as("n"))
      .select(Dedup.shingles(col("n"), 2).as("sh"))
      .as[Seq[String]].head()
    assert(out.toSet == Set("a ", " b"))
  }

  test("shingleHashesExpr: sorted distinct hash per shingle, empty-safe") {
    val out = Seq("a b", "").toDF("text")
      .select(Dedup.shingleHashesExpr(col("text"), 2).as("h"))
      .as[Seq[Long]].collect()
    assert(out(0).size == 2) // {"a ", " b"} -> 2 distinct hashes
    assert(out(0) == out(0).sorted)
    assert(out(1).isEmpty)
    // Deterministic across evaluations:
    val again = Seq("a b").toDF("text")
      .select(Dedup.shingleHashesExpr(col("text"), 2).as("h")).as[Seq[Long]].head()
    assert(again == out(0))
  }

  test("jaccard column on known sets") {
    val j = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(Dedup.jaccard(col("x"), col("y")).as("j")).as[Double].head()
    assert(math.abs(j - 0.5) < 1e-9)
  }

  test("containmentPairs: subset scores 1.0 one way, partial the other") {
    // Doc 2's tokens ⊂ doc 1's: containment(2→1) = 1.0 (10000 bp), while
    // containment(1→2) = 2/4; doc 3 shares nothing.
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta"),
      (3L, "omega psi")).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((2L, 1L) -> 10000L))
    val all = Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(all((1L, 2L)) == 5000L)
    assert(all((3L, 1L)) == 0L)
  }

  test("substringDedup merges duplicated windows into maximal spans") {
    // Doc 1 shares "a b c d e" with doc 2 (3-windows at pos 1..3 → span
    // [1,5]) and "h i j" with doc 3 (pos 8 → span [8,10]); the two spans
    // stay separate (gap at 6-7). Doc 5 repeats "m n o" only WITHIN
    // itself — intra-doc repeats need >= 2 distinct docs, so it is
    // absent, as is the no-overlap doc 4.
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x x a b c d e y y z"),
      (3L, "p q r h i j"),
      (4L, "totally unrelated words only here"),
      (5L, "m n o m n o m n o")
    ).toDF("doc_id", "text")
    val out = Staging.scope(spark)(
      Dedup.substringDedup(docs, "doc_id", "text", k = 3).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap)
    assert(out == Map(
      1L -> ((2L, 8L, 10L, 8000L)),
      2L -> ((1L, 5L, 10L, 5000L)),
      3L -> ((1L, 3L, 6L, 5000L))))
  }

  test("scrubSpans removes exactly the duplicated spans from every doc") {
    // Same fixture as the span report above: scrubbing doc 1 drops
    // [1,5] and [8,10] leaving "f g", doc 2 drops [3,7] leaving
    // "x x y y z", doc 3 drops [4,6] leaving "p q r"; docs 4 and 5
    // (no cross-doc span) survive untouched.
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x x a b c d e y y z"),
      (3L, "p q r h i j"),
      (4L, "totally unrelated words only here"),
      (5L, "m n o m n o m n o")
    ).toDF("doc_id", "text")
    val out = Staging.scope(spark)(
      Dedup.scrubSpans(docs, "doc_id", "text", k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap)
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out == Map(
      1L -> ((10L, 2L, m("f g"))),
      2L -> ((10L, 5L, m("x x y y z"))),
      3L -> ((6L, 3L, m("p q r"))),
      4L -> ((5L, 5L, m("totally unrelated words only here"))),
      5L -> ((9L, 9L, m("m n o m n o m n o")))))
  }

  test("scrubSpans is consistent with the tx32 report on harness docs") {
    // kept_tokens == n_tokens − dup_tokens for every doc the report
    // flags, and == n_tokens for every doc it does not.
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val report = Dedup.substringDedup(docs, "doc_id", "text", k = 8)
      .select(col("doc_id"), col("dup_tokens")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scrub = Staging.scope(spark)(
      Dedup.scrubSpans(docs, "doc_id", "text", k = 8)
        .select(col("doc_id"), col("n_tokens"), col("kept_tokens")).collect())
    assert(scrub.nonEmpty && report.nonEmpty)
    scrub.foreach { r =>
      val want = r.getLong(1) - report.getOrElse(r.getLong(0), 0L)
      assert(r.getLong(2) == want,
        s"doc ${r.getLong(0)}: kept ${r.getLong(2)} != $want")
    }
  }
}
