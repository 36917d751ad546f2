package graft.tools

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Materialize a COHERENT scaled copy of a harness SF directory for the
  * core-scaling probe (round-18, verdict item: the sf0.1 bench is
  * fixed-cost bound and cannot falsify a scale-killer — 8 cores beat 32
  * across the registry). Copy i shifts every entity key by i·10⁷, so
  * each copy joins only within itself: the scaled set is `factor`
  * disjoint sf0.1 worlds — linear growth in rows, clusters, and
  * keyspace, never factor-sized artificial join blowups. Dimension
  * tables bounded by the real world (region, nation) are NOT scaled;
  * document text is per-copy perturbed (the ScaleProbe lesson) so
  * near-dup structure replicates instead of compounding.
  *
  *   sbt "runMain graft.tools.MakeScaled /root/testdata/sf0.1 /tmp/sfx10 10"
  */
object MakeScaled {
  private def requireFactor(factor: Int): Unit =
    require(factor >= 1 && factor <= 10,
      s"factor must be in 1..10, got $factor: copy i perturbs document " +
        "text with digit i, so copies i and i+10 would get identical " +
        "text, and factor 0 leaves no copy to write")

  /** Copy `i` of `factor` copies' document text: every 'e' becomes the
    * digit i, so near-dup structure replicates per copy instead of
    * compounding. The scale tools share it, so each copy stays distinct. */
  private[graft] def perturbedText(text: Column, i: Int, factor: Int): Column = {
    requireFactor(factor)
    translate(text, "e", ('0' + i).toChar.toString)
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = args(2).toInt
    requireFactor(factor)
    val spark = graft.GraftSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    val shift = 10000000L
    // Key columns shifted per copy; everything else rides unchanged.
    val keyCols: Map[String, Seq[String]] = Map(
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    def copyOf(t: String, df: DataFrame, i: Int): DataFrame = {
      if (i == 0) return df
      val shifted = keyCols(t).foldLeft(df) { (d, c) =>
        d.withColumn(c, col(c) + i * shift)
      }
      if (t == "documents")
        shifted.withColumn("text", perturbedText(col("text"), i, factor))
      else shifted
    }
    Tables.names.foreach { t =>
      val base = Tables.load(spark, src, t)
      val out =
        if (!keyCols.contains(t)) base // bounded dimensions stay as-is
        else (0 until factor).map(copyOf(t, base, _)).reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$dst/__tmp_$t")
      // The harness layout is one <table>.parquet FILE per table; keep
      // it so Tables.load/eventsStream read the scaled dir unchanged.
      val part = new java.io.File(s"$dst/__tmp_$t").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      if (part.length == 1)
        java.nio.file.Files.move(part(0).toPath,
          java.nio.file.Paths.get(dst, s"$t.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      else {
        // multi-part output: re-read and coalesce to one file
        spark.read.parquet(s"$dst/__tmp_$t").coalesce(1)
          .write.mode("overwrite").parquet(s"$dst/__tmp2_$t")
        val p2 = new java.io.File(s"$dst/__tmp2_$t").listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        java.nio.file.Files.move(p2(0).toPath,
          java.nio.file.Paths.get(dst, s"$t.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(s"$dst/__tmp2_$t"))
      }
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$dst/__tmp_$t"))
      println(s"[makescaled] $t done")
    }
    spark.stop()
  }
}
