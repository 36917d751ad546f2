package graft

import graft.operators.Ranks
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The Ranks helpers exist to REPLACE unpartitioned global windows, so
  * each one is pinned here to the exact semantics of the window it
  * replaces — on seeded random data with heavy ties in the leading key,
  * descending heads, string sorts, multiple slice counts (1, 4, 7 —
  * including more slices than distinct leading keys), and the empty and
  * single-row edges. The naive `Window.orderBy` is the executable spec;
  * it is fine IN THE TEST because the fixture is tiny. */
class RanksSpec extends SparkSpec {
  import spark.implicits._

  // 200 rows, v in 0..19 (ties ~10 deep), k unique, s short strings
  // (ties in s too). Seeded: the fixture is identical on every run.
  private lazy val rows = {
    val rnd = new scala.util.Random(42)
    (0L until 200L).map { k =>
      (k, rnd.nextInt(20).toLong,
        ("" + ('a' + rnd.nextInt(3)).toChar) * (1 + rnd.nextInt(2)))
    }
  }
  private lazy val df = rows.toDF("k", "v", "s")

  private def release(): Unit = Staging.release(spark)

  test("globalRowNumber matches row_number over every sort shape") {
    val sorts = Seq(
      Seq(col("v"), col("k")),
      Seq(col("v").desc, col("k")),
      Seq(col("s"), col("v").desc, col("k")),
      Seq(col("k")))
    for (sort <- sorts; buckets <- Seq(0, 1, 4, 7)) {
      val want = df.withColumn("rn",
          row_number().over(Window.orderBy(sort: _*)).cast("long"))
        .select("k", "rn").as[(Long, Long)].collect().toMap
      val got = Ranks.globalRowNumber(df, "rn", sort, buckets)
        .select("k", "rn").as[(Long, Long)].collect().toMap
      release()
      assert(got == want, s"sort=$sort buckets=$buckets")
    }
  }

  test("strictPrefixMax matches the strict-prefix max window") {
    val sort = Seq(col("v"), col("k"))
    for (buckets <- Seq(0, 1, 4, 7)) {
      val w = Window.orderBy(sort: _*)
        .rowsBetween(Window.unboundedPreceding, -1)
      val want = df.withColumn("m", max(col("k")).over(w))
        .select("k", "m").collect()
        .map(r => r.getLong(0) -> Option(r.get(1))).toMap
      val got = Ranks.strictPrefixMax(df, "m", sort, col("k"), buckets)
        .select("k", "m").collect()
        .map(r => r.getLong(0) -> Option(r.get(1))).toMap
      release()
      assert(got == want, s"buckets=$buckets")
    }
  }

  test("prefixSums matches inclusive running sums, two values one pass") {
    val sort = Seq(col("v").desc, col("k"))
    for (buckets <- Seq(0, 1, 4, 7)) {
      val w = Window.orderBy(sort: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df
        .withColumn("c1", sum(col("v")).over(w))
        .withColumn("c2", sum(lit(1L)).over(w))
        .select("k", "c1", "c2").as[(Long, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      val got = Ranks.prefixSums(df, sort,
          Seq((col("v"), "c1"), (lit(1L), "c2")), buckets)
        .select("k", "c1", "c2").as[(Long, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      release()
      assert(got == want, s"buckets=$buckets")
    }
  }

  test("edge cases: empty and single-row inputs") {
    val empty = Seq.empty[(Long, Long, String)].toDF("k", "v", "s")
    assert(Ranks.globalRowNumber(empty, "rn", Seq(col("k"))).count() == 0)
    release()
    val one = Seq((7L, 1L, "x")).toDF("k", "v", "s")
    assert(Ranks.globalRowNumber(one, "rn", Seq(col("k")))
      .select("rn").as[Long].head() == 1L)
    release()
    val m = Ranks.strictPrefixMax(one, "m", Seq(col("k")), col("v"))
      .select("m").collect().head
    assert(m.isNullAt(0))
    release()
  }

  test("ntileFromRank matches ntile for ragged bucket sizes") {
    for (k <- Seq(3, 5, 7)) {
      val w = Window.orderBy(col("v"), col("k"))
      val want = df.withColumn("t", ntile(k).over(w).cast("long"))
        .select("k", "t").as[(Long, Long)].collect().toMap
      val ranked = Ranks.globalRowNumber(df, "rn", Seq(col("v"), col("k")))
      val got = ranked.crossJoin(broadcast(df.agg(count(lit(1)).as("n"))))
        .select(col("k"),
          Ranks.ntileFromRank(col("rn"), col("n"), k).as("t"))
        .as[(Long, Long)].collect().toMap
      release()
      assert(got == want, s"k=$k")
    }
  }
}
