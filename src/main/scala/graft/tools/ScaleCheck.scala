package graft.tools

import graft.Tables
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Dev harness: scale-behavior spot check for the near-dup pipeline.
  * Replicates the documents table `mult`× with re-keyed ids (every copy
  * of a doc is an exact dup of the original, so each doc becomes a
  * `mult`-clique) and times MinHash-LSH end-to-end.
  *
  * What "holds at scale" means here: with exact-copy replication the
  * TRUE near-dup output grows quadratically in clique size — at 10×
  * (sf0.1): rows ×10, true pairs ×~1000 (256 → 250,600), measured time
  * ×7.7 (1.6 s → 12.3 s on local[32], after the codegen sketches +
  * signature persist). Time tracks candidate/output volume, not
  * input² — the banded-LSH candidate generation plus the bucket-size
  * cap keep the quadratic step confined to genuine duplicate cliques,
  * which is the designed contract for 100 TB corpora.
  *
  * Usage: runMain graft.tools.ScaleCheck <sfDir> <mult>
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val mult = if (args.length > 1) args(1).toInt else 10
    val spark = graft.GraftSession()

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val n = docs.count()
    // mult copies, ids offset so every (orig, copy) pair is an exact dup.
    val big = spark.range(mult).crossJoin(docs)
      .select((col("id") * n * 10 + col("doc_id")).as("doc_id"), col("text"))
    println(s"[scale] input rows: ${n * mult}")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    // Warm-up pass at 1x, then the timed multiplied run. Release the
    // operator's persisted signature table between runs so each timing
    // starts cold and cached blocks don't accumulate across invocations.
    Dedup.minhashNearDups(docs, "doc_id", "text").count()
    Dedup.releaseCaches()
    val pairs1 = time("minhash 1x") {
      Dedup.minhashNearDups(docs, "doc_id", "text").count()
    }
    Dedup.releaseCaches()
    val pairsN = time(s"minhash ${mult}x") {
      Dedup.minhashNearDups(big, "doc_id", "text").count()
    }
    Dedup.releaseCaches()
    println(s"[scale] pairs 1x=$pairs1 ${mult}x=$pairsN")

    // ANN recall at this scale factor: does the SRP-LSH candidate
    // generation still surface the true neighbors as the corpus grows?
    // (The test-suite recall check runs only at sf0.001.)
    val emb = Tables.embeddings(spark, sfDir)
    val q0 = emb.where(col("vec_id") === 0)
    val exact = graft.operators.Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", q0, "embedding", 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def annRecall(planes: Int, tables: Int, multiprobe: Boolean = false): Int = {
      val ann = graft.operators.Similarity
        .annTopK(emb, "vec_id", "embedding", 64, q0, "embedding", 10,
          nPlanes = planes, nTables = tables, multiprobe = multiprobe)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (ann & exact).size
    }
    // The tuning law, measured at sf0.1 (2000 vectors), recall@10:
    // fixed(6p,4t)=5, morePlanes(9p,8t)=1, moreTables(6p,8t)=5,
    // fewerPlanes(4p,8t)=9. Per-table collision probability
    // (1 - θ/π)^planes is what binds recall for mid-similarity
    // neighbors — each extra plane cuts it by ~2/3, which extra tables
    // cannot buy back linearly. Planes bound CANDIDATE COST (bucket
    // occupancy ≈ n/2^planes); pick the fewest planes whose bucket size
    // fits the scoring budget, then add tables until recall holds.
    println(s"[scale] ann recall@10 at $sfDir: " +
      s"fixed(6p,4t)=${annRecall(6, 4)}/10 " +
      s"morePlanes(9p,8t)=${annRecall(9, 8)}/10 " +
      s"moreTables(6p,8t)=${annRecall(6, 8)}/10 " +
      s"fewerPlanes(4p,8t)=${annRecall(4, 8)}/10 " +
      s"multiprobe(6p,4t)=${annRecall(6, 4, multiprobe = true)}/10")

    // Round-4 operators at mult× (same replicated corpus). Measured at
    // sf0.1 ×10 on local[32]:
    //  - portable minhash twin (dd9 shape) 24.7 s vs production xxhash64
    //    path 7.7 s — the 3.2× is the md5-per-shingle price; the twin
    //    exists for oracle verification, production stays on
    //    minhashNearDups;
    //  - contamination (tx12 shape) 2.5 s at sf0.1: gram volume grows
    //    linearly and the per-gram doc-set expansion is bounded by
    //    duplicate-clique size (the LSH-bucket argument);
    //  - scd2 merge ×10 (50k-row dim, every row changed) 1.1 s: one
    //    full-outer SortMergeJoin regardless of change ratio
    //    (single-pass plan).
    val bigDocs = big
    time(s"minhash PORTABLE ${mult}x") {
      Dedup.minhashNearDupsPortable(bigDocs, "doc_id", "text").count()
    }
    Dedup.releaseCaches()
    time("contamination 1x") {
      graft.SparkEntry.queries("tx12_contamination")(spark, sfDir).count()
    }
    val dim0 = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val dimBig = spark.range(mult).crossJoin(dim0)
      .select((col("id") * 10000000L + col("c_custkey")).as("c_custkey"),
        col("c_acctbal"), col("c_mktsegment"))
    time(s"scd2 ${mult}x") {
      graft.operators.Relational.scd2Merge(
        dimBig,
        dimBig.select(col("c_custkey"), (col("c_acctbal") + 1).as("c_acctbal"),
          col("c_mktsegment")),
        "c_custkey", Seq("c_acctbal", "c_mktsegment")).count()
    }

    // Round-4 extension operators at scale. Measured at sf0.1 on
    // local[32]:
    //  - pageRank 100k nodes / 200k edges, 10 iterations: ~7 s
    //    (2 small shuffles + re-root per round, one lazy job at the
    //    action; independent of rank skew);
    //  - subseqSearch on 10× events (1M rows, 15k series): 1.9 s —
    //    window materialization + per-row folds, linear and map-side;
    //  - dedupLines on 10× docs: 0.8 s — line-frequency aggregation +
    //    join back, linear in line volume.
    time("pagerank 100k nodes") {
      val nodes100k = 100000L
      val ns = spark.range(nodes100k).select(col("id").as("r"))
      val es = ns.select(col("r").as("src"), ((col("r") * 31 + 7) % nodes100k).as("dst"))
        .union(ns.select(col("r").as("src"), ((col("r") + 1) % nodes100k).as("dst")))
      graft.operators.Graph.pageRank(es, iterations = 10).count()
    }
    Dedup.releaseCaches()
    time(s"subseq search ${mult}x events") {
      val ev = Tables.events(spark, sfDir).select("user_id", "ts", "event_id", "value")
      val evBig = spark.range(mult).crossJoin(ev)
        .select((col("user_id") + col("id") * 100000L).as("user_id"),
          col("ts"), col("event_id"), col("value"))
      graft.operators.TimeSeries.subseqSearch(evBig, "user_id", "ts",
        "event_id", "value", (1 to 8).map(_.toDouble), k = 10).count()
    }
    time(s"line dedup ${mult}x docs") {
      Dedup.dedupLines(bigDocs, "doc_id", "text", maxFreq = 5).count()
    }

    // Connected components on a pathological 100k-node CHAIN — the
    // worst case for plain propagation (diameter = n). Pointer jumping
    // must converge in O(log n) rounds; correctness check: one
    // component labeled by the chain's minimum node.
    val chainN = 100000L
    val chain = spark.range(chainN - 1)
      .select(col("id").as("id1"), (col("id") + 1).as("id2"))
    val t0 = System.nanoTime()
    val comp = Dedup.connectedComponents(chain, "id1", "id2")
    val labels = comp.agg(countDistinct(col("cluster_id")).as("k"),
      max(col("cluster_id")).as("mx")).head()
    println(f"[scale] cc chain n=$chainN: ${(System.nanoTime() - t0) / 1e9}%.1f s, " +
      s"components=${labels.getLong(0)} maxLabel=${labels.getLong(1)} (want 1, 0)")
    Dedup.releaseCaches()
    spark.stop()
  }
}
