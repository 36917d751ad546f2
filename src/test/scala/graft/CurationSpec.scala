package graft

import graft.operators.{Dedup, TextAnalysis}
import graft.queries.CurationQueries
import org.apache.spark.sql.functions._

/** Round-4 curation operators: portable near-dup pipelines on planted
  * duplicates, PII patterns on known text, packing invariants. The heavy
  * verification (hash-exact DuckDB compare at three SFs) runs through the
  * driver oracle; these are the fast planted-fixture checks. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy cat near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (3L, "completely different content about spark partitions and shuffle tuning"),
    (4L, "yet another unrelated document mentioning neither foxes nor rivers")
  ).toDF("doc_id", "text")

  test("minhashNearDupsPortable finds planted pairs, agrees with exact jaccard") {
    val pairs = Staging.scope(spark)(Dedup.minhashNearDupsPortable(docs,
        "doc_id", "text", shingleK = 5, numHashes = 16, bands = 8,
        threshold = 0.6)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect())
    val byPair = pairs.map(t => (t._1, t._2) -> t._3).toMap
    assert(byPair((0L, 2L)) == 1.0) // exact copy
    assert(byPair.contains((0L, 1L)) || byPair.contains((1L, 2L))) // near-dup
    assert(!byPair.keys.exists(p => p._1 >= 3L || p._2 >= 3L))
  }

  test("simhashNearDupsPortable: exact copies at distance 0, unrelated absent") {
    val pairs = Dedup.simhashNearDupsPortable(docs, "doc_id", "text")
      .select("id1", "id2", "hamming").as[(Long, Long, Int)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((0L, 2L)) == 0)
    assert(!pairs.keys.exists(p => p._1 >= 3L || p._2 >= 3L))
    // Portable signatures live in the low 60 bits only.
    val sigs = docs.select(Dedup.simhashExpr(transform(
        TextAnalysis.tokens(col("text")),
        t => conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long")))
      .as("sig")).as[Long].collect()
    assert(sigs.forall(s => (s >>> 60) == 0L))
  }

  test("PII patterns: detect and redact emails, phones, IPs") {
    val redacted = Seq("write bob.smith+x@corp.example.org or call +44-201-5550 " +
        "from host 192.168.0.1 please")
      .toDF("t")
      .select(
        size(regexp_extract_all(col("t"),
          lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit(0))).as("ne"),
        regexp_replace(regexp_replace(col("t"),
          lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit("<EMAIL>")),
          lit("\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"), lit("<IP>")).as("r"))
      .as[(Int, String)].head()
    assert(redacted._1 == 1)
    assert(redacted._2 ==
      "write <EMAIL> or call +44-201-5550 from host <IP> please")
  }

  test("sequence packing: bins respect the budget boundary rule") {
    // Docs of 100 tokens each in one source: bin = floor(startOffset/128)
    // -> docs start at offsets 0,100,200,300 -> bins 0,0,1,2.
    val docs4 = (0 until 4).map(i =>
      ("s", i.toLong, Seq.fill(100)("w").mkString(" "))).toDF("source", "doc_id", "text")
    val spec = CurationQueries.specs.find(_.name == "tx14_pack_sequences").get
    // Reuse the operator shape inline (the spec reads harness tables).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val bins = docs4
      .select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", floor((col("cum") - col("n_tok")) / lit(128.0)).cast("long"))
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    assert(bins == Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 2L))
    assert(spec.oracle.nonEmpty)
  }

  test("repetition ratio: degenerate text scores high, varied text zero") {
    val rep = Seq("spam spam spam spam spam spam", "one two three four five six")
      .toDF("text")
      .select(TextAnalysis.tokens(col("text")).as("toks"))
      .select(when(size(col("toks")) >= 3,
        transform(sequence(lit(1), size(col("toks")) - 2),
          i => array_join(slice(col("toks"), i, lit(3)), " ")))
        .otherwise(typedLit(Seq.empty[String])).as("grams"))
      .select((lit(1.0) - size(array_distinct(col("grams"))).cast("double")
        / size(col("grams"))).as("r"))
      .as[Double].collect()
    assert(rep(0) == 0.75) // 4 grams, 1 distinct
    assert(rep(1) == 0.0)
  }

  test("DSIR weights discriminate toward the target distribution") {
    // The whole point of importance weighting: documents drawn from the
    // target (English) slice must average a higher log-weight under the
    // target-over-source model than documents from other languages.
    val w = graft.SparkEntry.queries("tx35_dsir_weights")(
        spark, "/root/testdata/sf0.001")
      .groupBy(col("lang") === "en")
      .agg(avg(col("logw_micro").cast("double")).as("mean_w"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(w(true) > w(false),
      s"en mean ${w(true)} should exceed non-en mean ${w(false)}")
  }

  test("tx38 policy: keep iff reasons==0, dup bit tracks the tx32 report") {
    val dir = "/root/testdata/sf0.001"
    val pol = Staging.scope(spark)(
      graft.SparkEntry.queries("tx38_quality_policy")(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap)
    val dupBp = Staging.scope(spark)(graft.operators.Dedup.substringDedup(
        Tables.documents(spark, dir).select("doc_id", "text"),
        "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap)
    assert(pol.nonEmpty)
    pol.foreach { case (id, (reasons, keep)) =>
      assert(reasons >= 0 && reasons <= 7, s"doc $id reasons=$reasons")
      assert(keep == (if (reasons == 0) 1L else 0L))
      // Bit 4 is exactly the tx32 dup_bp >= 2000 rule.
      val wantDup = dupBp.get(id).exists(_ >= 2000)
      assert(((reasons & 4) != 0) == wantDup,
        s"doc $id: dup bit ${(reasons & 4) != 0} vs report $wantDup")
    }
    // The policy discriminates on this corpus: both outcomes occur.
    assert(pol.values.exists(_._2 == 1L) && pol.values.exists(_._2 == 0L))
  }

  test("tx36 CCNet buckets: balanced terciles, perplexity-monotone") {
    val rows = graft.SparkEntry.queries("tx36_ccnet_buckets")(
        spark, "/root/testdata/sf0.001")
      .select("bucket", "ppl_c")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val n = rows.size
    val byBucket = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    // Exact tercile arithmetic: |head| = ceil(n/3) etc. differ by <= 1.
    val sizes = byBucket.values.map(_.size)
    assert(sizes.max - sizes.min <= 1, s"unbalanced terciles: $byBucket")
    assert(sizes.sum == n)
    // Fluency ordering: every head doc scores <= every middle doc,
    // every middle <= every tail (ties allowed at the boundary).
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
  }
}
