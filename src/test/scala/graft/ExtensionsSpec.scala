package graft

import org.apache.spark.sql.functions._

/** SQL front door for the custom expressions: the shared session gets
  * them from `spark.sql.extensions` alone, with no registration call. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_similarity usable from SQL, equals DataFrame path") {
    Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)), (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    val sql = spark.sql("SELECT cosine_similarity(a, b) AS c FROM vecs")
      .as[Double].collect().toSeq
    assert(sql == Seq(1.0, 0.0))
  }

  test("shingle_hashes and minhash_band_buckets compose in SQL") {
    Seq("the quick brown fox", "the quick brown fox", "something else entirely")
      .toDF("text").createOrReplaceTempView("docs")
    val rows = spark.sql(
      """SELECT minhash_band_buckets(shingle_hashes(text, 5), 4, 4) AS b
        |FROM docs""".stripMargin).as[Seq[Long]].collect()
    assert(rows(0) == rows(1)) // identical text -> identical buckets
    assert(rows(0) != rows(2))
    assert(rows(0).size == 4)
  }

  test("simhash64 from SQL on hashed tokens") {
    val sig = spark.sql(
      "SELECT simhash64(array(xxhash64('a'), xxhash64('b'))) AS s")
      .as[Long].head()
    val again = spark.sql(
      "SELECT simhash64(array(xxhash64('a'), xxhash64('b'))) AS s")
      .as[Long].head()
    assert(sig == again && sig != 0L)
  }

  test("minhash_signature equals the declarative transform/array_min formula") {
    import graft.expressions.Hashing
    val n = 16
    val as = typedLit(Hashing.minhashA(n).toSeq)
    val bs = typedLit(Hashing.minhashB(n).toSeq)
    val df = Seq(Seq(3L, 99L, 2147483646L), Seq(7L), Seq(0L, 1L, 2L, 3L, 4L))
      .toDF("hs")
    val cmp = df.select(
      graft.operators.Dedup.minhashSignature(col("hs"), n).as("fast"),
      transform(sequence(lit(0), lit(n - 1)),
        k => array_min(transform(col("hs"),
          h => pmod(element_at(as, k + 1) * h + element_at(bs, k + 1),
            lit(2147483647L))))).as("hof"))
    assert(cmp.where(col("fast") =!= col("hof")).count() == 0)
    // Empty input -> NULL (no meaningful signature), null element -> NULL.
    val edge = spark.sql(
      """SELECT minhash_signature(CAST(array() AS ARRAY<BIGINT>), 4) AS e,
        |  minhash_signature(array(1L, CAST(NULL AS BIGINT)), 4) AS ne""".stripMargin)
      .collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1))
  }

  test("jaro_winkler: DuckDB-verified values, SQL + DataFrame parity") {
    // Constants checked against DuckDB's jaro_winkler_similarity — the
    // er5 oracle function — including the boost threshold (0.6 case gets
    // NO prefix boost), the window floor ('ab'/'ba' -> 0), and the
    // empty-string convention (0.0, both-empty included).
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("abcdxxxxxx", "abcdyyyyyy", 0.6),
      ("ab", "ba", 0.0),
      ("", "", 0.0),
      ("a", "", 0.0),
      ("same", "same", 1.0))
    cases.foreach { case (a, b, want) =>
      assert(graft.expressions.JaroWinkler.score(a, b) == want, s"($a, $b)")
    }
    cases.toDF("a", "b", "want").createOrReplaceTempView("jw_cases")
    // SQL path (codegen) agrees with the static kernel bit-for-bit.
    val mism = spark.sql(
      "SELECT * FROM jw_cases WHERE jaro_winkler(a, b) <> want").count()
    assert(mism == 0)
    // DataFrame helper path too.
    assert(cases.toDF("a", "b", "want")
      .where(graft.operators.Relational.jaroWinkler(col("a"), col("b"))
        =!= col("want")).count() == 0)
  }

  test("builder arity and literal checks") {
    intercept[Exception] {
      spark.sql("SELECT cosine_similarity(array(1.0))").collect()
    }
  }

  test("ragged or null-element inputs yield NULL, not garbage") {
    val rows = spark.sql(
      """SELECT
        |  cosine_similarity(array(CAST(1.0 AS DOUBLE), CAST(NULL AS DOUBLE)),
        |                    array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE))) AS null_elem,
        |  cosine_similarity(array(CAST(1.0 AS DOUBLE)),
        |                    array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE))) AS ragged,
        |  simhash64(array(1L, CAST(NULL AS BIGINT))) AS sh_null,
        |  minhash_band_buckets(array(1L, CAST(NULL AS BIGINT)), 2, 2) AS mh_null""".stripMargin)
      .collect().head
    assert((0 to 3).forall(rows.isNullAt), rows.toString)
  }
}
