package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** Round-5 graph operators on planted fixtures with hand-computed
  * answers; the synthetic-graph specs hash-check through the driver
  * oracle (q97–q99). */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edges(pairs: (Long, Long)*) = pairs.toSeq.toDF("src", "dst")

  test("triangleCounts: K4 — every node in 3 triangles, cc = 1") {
    val k4 = edges((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    val out = Graph.triangleCounts(k4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L))
    assert(out.values.forall(_ == ((3L, 3L, 10000L))))
  }

  test("triangleCounts: triangle + pendant; reversed/duplicate edges collapse") {
    // 0-1-2 triangle, 3 hangs off 2; edge (1,0) re-stated reversed.
    val g = edges((0L, 1L), (1L, 0L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 3L))
    val out = Graph.triangleCounts(g).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out == Set(
      (0L, 2L, 1L, 10000L),
      (1L, 2L, 1L, 10000L),
      (2L, 3L, 1L, 3333L), // 2/(3·2) = 0.3333…
      (3L, 1L, 0L, 0L)))   // self-loop dropped, degree from (2,3) only
  }

  test("labelPropagation: two cliques converge to min id; isolated keeps own") {
    // Clique {0,1,2}, clique {10,11,12}, isolated via self-loop {20}.
    val g = edges((0L, 1L), (0L, 2L), (1L, 2L),
      (10L, 11L), (10L, 12L), (11L, 12L), (20L, 20L))
    val out = Graph.labelPropagation(g, iterations = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
  }

  test("labelPropagation: per-round tie-breaks and mode flooding") {
    // Round 1 on 0–{1,2,3} plus a 2–3 edge: node 0 sees labels {1,2,3}
    // (all count 1) → tie → min 1; nodes 1/2/3 all see label 0 (winning
    // outright or by tie-min) → 0. Round 2: node 0 sees {0,0,0} → the
    // mode floods back.
    val g = edges((0L, 1L), (0L, 2L), (0L, 3L), (2L, 3L))
    val r1 = Graph.labelPropagation(g, iterations = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
    // Round 2: node 0 sees labels {0,0,0} → 0; the clique label floods.
    val r2 = Graph.labelPropagation(g, iterations = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2(0L) == 0L)
  }

  test("shortestHops: path graph distances; cap stops expansion") {
    val path = edges((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    val out = Graph.shortestHops(path, source = 0L, maxHops = 12).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))

    val capped = Graph.shortestHops(path, source = 0L, maxHops = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))

    // Disconnected component is never reached.
    val twoComp = edges((0L, 1L), (5L, 6L))
    val reach = Graph.shortestHops(twoComp, source = 0L, maxHops = 12)
      .collect().map(r => r.getLong(0)).toSet
    assert(reach == Set(0L, 1L))
  }

  test("sssp: cheap shortcut beats short hop path; parallel edges take min") {
    import spark.implicits._
    // 0→1→2→3 with weight 5 each; shortcut 0→3 weight 4; plus a parallel
    // 0→1 edge of weight 2 that must win over the weight-5 copy.
    val e = Seq(
      (0L, 1L, 5L), (1L, 2L, 5L), (2L, 3L, 5L),
      (0L, 3L, 4L), (0L, 1L, 2L))
      .toDF("src", "dst", "w")
    val out = Graph.sssp(e, source = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 0L, 1L -> 2L, 2L -> 7L, 3L -> 4L))

    // Unreachable nodes are absent; a long chain still converges (the
    // batched probe detects the fixpoint mid-batch).
    val chain = (0L until 10L).map(i => (i, i + 1, 1L))
      .toDF("src", "dst", "w")
    val dists = Graph.sssp(chain, source = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dists == (0L to 10L).map(i => i -> i).toMap)
  }

  test("kCore equals brute-force peel on seeded random graphs") {
    // Reference: iterate "drop all nodes with < k alive neighbors"
    // synchronously until fixpoint, then within-core degrees.
    def brute(es: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
      val adj = (es ++ es.map(_.swap)).filter(e => e._1 != e._2).distinct
        .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
      var alive = adj.keySet
      var changed = true
      while (changed) {
        val next = alive.filter(n => (adj(n) & alive).size >= k)
        changed = next != alive
        alive = next
      }
      alive.map(n => n -> (adj(n) & alive).size.toLong).toMap
    }
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val n = 8 + rnd.nextInt(8)
      val es = Seq.fill(2 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val want = brute(es, 2)
      val got = Graph.kCore(edges(es: _*), k = 2, rounds = 20).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial: es=$es")
    }
  }

  test("hits equals dense reference fold on seeded random digraphs") {
    def brute(es: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] = {
      val e = es.filter(x => x._1 != x._2).distinct
      val nodes = e.flatMap(x => Seq(x._1, x._2)).distinct
      var h = nodes.map(_ -> 1L).toMap
      var a = nodes.map(_ -> 1L).toMap
      for (_ <- 1 to iters) {
        val aNew = nodes.map(j => j -> e.filter(_._2 == j).map(x => h(x._1)).sum).toMap
        val hNew = nodes.map(i => i -> e.filter(_._1 == i).map(x => aNew(x._2)).sum).toMap
        h = hNew; a = aNew
      }
      nodes.map(x => x -> ((h(x), a(x)))).toMap
    }
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 4) {
      val n = 6 + rnd.nextInt(6)
      val es = Seq.fill(2 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(x => x._1 != x._2)
      if (es.nonEmpty) {
        val want = brute(es, 3)
        val got = Graph.hits(edges(es: _*), iterations = 3).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        assert(got == want, s"trial $trial: es=$es")
      }
    }
  }

  test("hits: alternating update on a star — hand-computed two rounds") {
    // 0→1, 0→2, 3→1. Round 1: a1=h0+h3=2, a2=h0=1; h0=a1+a2=3, h3=a1=2.
    // Round 2: a1=3+2=5, a2=3; h0=5+3=8, h3=5. Sinks keep hub 0,
    // sources keep auth 0.
    val g = edges((0L, 1L), (0L, 2L), (3L, 1L))
    val out = Graph.hits(g, iterations = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(
      0L -> ((8L, 0L)), 1L -> ((0L, 5L)), 2L -> ((0L, 3L)), 3L -> ((5L, 0L))))
  }

  test("kCore: pendant chain cascades off a K4; core degrees are within-core") {
    // K4 {0,1,2,3} + chain 3-4-5: 5 (deg 1) peels round 1, 4 (then deg
    // 1) peels round 2 — the cascade — leaving the K4 as the 3-core
    // with all within-core degrees 3 (node 3's chain edge must not
    // count).
    val g = edges((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 4L), (4L, 5L))
    val out = Graph.kCore(g, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))

    // k=2: the chain end still peels (deg 1) and the cascade takes node
    // 4 with it; k=4 dissolves everything (K4 degrees are only 3).
    val core2 = Graph.kCore(g, k = 2).collect()
      .map(r => r.getLong(0)).toSet
    assert(core2 == Set(0L, 1L, 2L, 3L))
    assert(Graph.kCore(g, k = 4).collect().isEmpty)
  }

  test("kCore: two 3-cores joined by a bridge both survive; bridge edge excluded") {
    // Two K4s sharing no nodes, bridged by a single edge 3-10: every
    // node keeps core_deg 3 — the bridge contributes nothing once
    // neither endpoint can reach degree-3 through it alone (both
    // endpoints survive, so the bridge edge itself stays IN the core
    // subgraph and counts toward within-core degree).
    val g = edges(
      (0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L),
      (3L, 10L))
    val out = Graph.kCore(g, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 10L, 11L, 12L, 13L))
    assert(out(3L) == 4L && out(10L) == 4L) // bridge endpoints: 3 + bridge
    assert(Set(0L, 1L, 2L, 11L, 12L, 13L).forall(out(_) == 3L))
  }

  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A temp directory holding an `events.parquet` of users `0 until n`. */
  private def eventsDir(users: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graph-memo").toString
    writeEvents(dir, users)
    dir
  }

  private def writeEvents(dir: String, users: Int): Unit =
    spark.range(users).select(col("id").as("user_id"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("pageRank 50 times, each in its own Staging.scope, leaves nothing persisted") {
    Staging.releaseAll(spark)
    val g = edges((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L))
    for (_ <- 1 to 50)
      assert(Staging.scope(spark)(Graph.pageRank(g, iterations = 2).count()) == 4)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.keySet)
  }

  test("q171 on three fresh session clones pins one shared node table") {
    val dir = eventsDir(200)
    val q171 = SparkEntry.queries("q171_random_walks")
    def onFreshClone(): Set[Int] = {
      val s = spark.newSession()
      Staging.scope(s)(q171(s, dir).count())
      persisted()
    }
    val first = onFreshClone()
    onFreshClone()
    assert(onFreshClone() == first)
    Staging.invalidate(spark, dir)
  }

  test("q98 then q180 on a fresh clone: nested memo computes do not collide") {
    val dir = eventsDir(40)
    val s = spark.newSession()
    Staging.scope(s) {
      assert(SparkEntry.queries("q98_label_propagation")(s, dir).count() > 0)
      assert(SparkEntry.queries("q180_modularity")(s, dir).count() > 0)
    }
    Staging.invalidate(s, dir)
  }

  test("8 threads on 8 clones share one staged user-node table") {
    val dir = eventsDir(300)
    val before = persisted()
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val threads = (1 to 8).map { _ =>
      val s = spark.newSession()
      val t = new Thread(() => {
        start.await()
        results.add(Staging.scope(s)(Graph.stagedUserNodes(s, dir)))
      })
      t.start()
      t
    }
    start.countDown()
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val got = results.asScala.toSeq
    assert(got.size == 8 && got.forall(_ eq got.head))
    assert((persisted() -- before).size == 1, persisted() -- before)
    Staging.invalidate(spark, dir)
    assert(persisted() -- before == Set.empty)
  }

  test("Tables.invalidate drops the staged user-node memo of a rewritten directory") {
    val dir = eventsDir(10)
    def n() = Staging.scope(spark)(Graph.stagedUserNodes(spark, dir)._2)
    assert(n() == 10)
    writeEvents(dir, 25)
    Tables.invalidate(spark, dir)
    assert(n() == 25)
    Tables.invalidate(spark, dir)
  }
}
