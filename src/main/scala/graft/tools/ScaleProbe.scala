package graft.tools

import graft.{GraftSession, Staging, Tables}
import graft.operators.Dedup
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** One-shot scale probe for the dedup capstone (the dd8 pipeline:
  * portable MinHash-LSH pair discovery → connected components → cluster
  * keepers): runs the SAME code at sf0.1 and at synthesized multiples of
  * it, recording wall-clock, shuffle volume, task count, and peak task
  * memory, so the "designed for 100×" claims rest on a measured
  * extrapolation anchor (results land in `SCALE.md`).
  *
  * Synthesis: copy i of the corpus shifts doc_id by i·10⁷ and rewrites
  * every 'e' to a per-copy digit. The rewrite perturbs a large fraction
  * of the 5-char shingles, so replicas do NOT co-bucket with their
  * originals — the scaled corpus keeps sf0.1's near-dup cluster
  * structure per copy-class instead of minting factor-sized artificial
  * clusters whose in-bucket quadratic blowup would measure a workload
  * no real crawl has. (A real 10× crawl has ~10× the clusters, not
  * 10×-bigger clusters.)
  *
  * A second mode (`probe = sketch`) anchors the bounded-state sketch
  * family instead: scaled copies of `events` (user_id shifted per copy,
  * so DISTINCT users grow linearly with the factor) run through the
  * portable-HLL register build (q183), the KMV aggregator (q188), and
  * an exact `count(DISTINCT)` baseline — recording the same metrics.
  * The design claim made measurable: sketch shuffle volume and state
  * are O(1) in both corpus size and key cardinality (64 rows / one ≤k
  * array per partition), while the exact baseline's shuffle grows with
  * the keyspace.
  *
  * Usage: runMain graft.tools.ScaleProbe [baseDir] [factors-csv] [probe]
  *        (probe: dd8 | sketch | bloom | graph | stream | manifest | dv,
  *         default dd8)
  */
object ScaleProbe {

  private final class ProbeListener extends SparkListener {
    val shuffleRead = new java.util.concurrent.atomic.AtomicLong
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    val spill = new java.util.concurrent.atomic.AtomicLong
    val peakMem = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
        peakMem.updateAndGet(p => math.max(p, m.peakExecutionMemory))
        tasks.incrementAndGet()
      }
    }
  }

  private def scaledDocs(spark: SparkSession, base: String,
      factor: Int): DataFrame = {
    val orig = Tables.documents(spark, base).select(col("doc_id"), col("text"))
    (0 until factor).map { i =>
      if (i == 0) orig
      else orig.select((col("doc_id") + i * 10000000L).as("doc_id"),
        MakeScaled.perturbedText(col("text"), i, factor).as("text"))
    }.reduce(_ unionByName _)
  }

  /** Scaled event keys: copy i shifts user_id by i·10⁷, so the distinct
    * keyspace grows linearly with the factor (the dimension a sketch
    * must be insensitive to and an exact distinct is not). */
  private def scaledUserKeys(spark: SparkSession, base: String,
      factor: Int): DataFrame = {
    val orig = Tables.events(spark, base).select(col("user_id"))
    (0 until factor).map { i =>
      if (i == 0) orig
      else orig.select((col("user_id") + i * 10000000L).as("user_id"))
    }.reduce(_ unionByName _)
  }

  private def runProbe(spark: SparkSession, name: String, factor: Int,
      rows: Long)(body: => Long): Unit = {
    val listener = new ProbeListener
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    GraftColumnBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    def mb(b: Long): Double = math.round(b / 1048.576) / 1000.0
    println(
      s"""{"probe":"$name","factor":$factor,"rows":$rows,"result":$out,""" +
      f""""wall_s":$wall%.1f,""" +
      s""""shuffle_read_mb":${mb(listener.shuffleRead.get)},""" +
      s""""shuffle_write_mb":${mb(listener.shuffleWrite.get)},""" +
      s""""spill_mb":${mb(listener.spill.get)},""" +
      s""""peak_task_mem_mb":${mb(listener.peakMem.get)},""" +
      s""""tasks":${listener.tasks.get}}""")
  }

  private def sketchProbes(spark: SparkSession, base: String,
      factors: Seq[Int]): Unit = {
    val kmv = udaf(new graft.functions.KMinValues(256),
      org.apache.spark.sql.Encoders.scalaLong)
    factors.foreach { f =>
      val keys = scaledUserKeys(spark, base, f)
      val rows = keys.count()
      runProbe(spark, "q183_hll_registers", f, rows) {
        graft.queries.ScaleQueries.hllRegisters(
          keys.select(col("user_id").cast("string").as("k"))).count()
      }
      runProbe(spark, "q188_kmv_sketch", f, rows) {
        keys.select(conv(substring(md5(col("user_id").cast("string")
            .cast("binary")), 1, 15), 16, 10).cast("long").as("hv"))
          .agg(kmv(col("hv")).as("sk"))
          .select(org.apache.spark.sql.functions.size(col("sk")))
          .head().getInt(0).toLong
      }
      runProbe(spark, "exact_count_distinct", f, rows) {
        keys.agg(countDistinct(col("user_id"))).head().getLong(0)
      }
    }
  }

  /** Bloom-prefilter anchor (`probe = bloom`): dd18's incremental-dedup
    * shape vs the naive exact semi-join, at growing corpus factors,
    * with broadcast-hash joins DISABLED — the regime a 100 TB history
    * with a too-big-to-broadcast daily increment actually runs in. The
    * claim made measurable: the naive join shuffles the FULL history's
    * fingerprints; the bloom path ships one constant-size filter row
    * and shuffles only bloom-passing candidates. */
  private def bloomProbes(spark: SparkSession, base: String,
      factors: Seq[Int]): Unit = {
    GraftSession.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"
    )(factors.foreach { f =>
      val doc = scaledDocs(spark, base, f)
        .select(col("doc_id"), graft.queries.IncrementalQueries.docFingerprint
          .as("f"))
      val newDocs = doc.where(col("doc_id") % 20 === 0)
      val hist = doc.where(col("doc_id") % 20 =!= 0)
      val rows = doc.count()
      // Size the filter to the increment (~16 bits/key, the documented
      // sizing discipline): a fixed-size filter saturates as the
      // increment grows and stops prefiltering anything.
      val bits = math.max(4096L, 16L * newDocs.count())
      runProbe(spark, "dd18_bloom_path", f, rows) {
        val candidates = graft.queries.IncrementalQueries
          .bloomFlagged(newDocs, hist, bits)
          .where(col("hit") === 1L).select("f")
        newDocs.join(candidates, Seq("f"), "left_semi").count()
      }
      runProbe(spark, "exact_semi_join", f, rows) {
        newDocs.join(hist, Seq("f"), "left_semi").count()
      }
    })
  }

  /** Streaming-state anchor (`probe = stream`): the bounded-state
    * claims of the streaming sketch family (st19 HLL registers ≈ 64
    * rows, st20 KMV = 1 row of ≤k longs, st21 DDSketch ≈ one row per
    * log-bucket, st23 bitmaps = 1 word per user) measured instead of
    * argued — scaled copies of the events table (user keyspace grows
    * linearly with the factor) flow through a MemoryStream into the
    * SAME aggregation shapes the specs register, and the state store's
    * row count and bytes come from the query's progress telemetry.
    * Flat `state_rows` across factors = bounded state; st23's rows
    * grow with USERS by design — its claim is constant bytes/user. */
  private def streamProbes(spark: SparkSession, base: String,
      factors: Seq[Int]): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val kmv = udaf(new graft.functions.KMinValues(256),
      org.apache.spark.sql.Encoders.scalaLong)
    // One driver-side collect of the base tuples; copies shift user_id.
    val baseTuples = Tables.events(spark, base)
      .select(col("user_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("val_c"),
        pmod(dayofmonth(col("ts")) - 1, lit(28)).cast("int").as("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq

    def probeOne(name: String, factor: Int,
        agg: DataFrame => DataFrame): Unit = {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Int)]
      val df = mem.toDF().toDF("user_id", "val_c", "day")
      val q = agg(df).writeStream.format("memory")
        .queryName(s"probe_${name}_$factor")
        .outputMode("complete").start()
      try {
        var rows = 0L
        // Three micro-batches per factor — state must be flat across
        // batches too, not just at the end.
        (0 until factor).foreach { i =>
          val chunk = baseTuples.map { case (u, v, d) =>
            (u + i * 10000000L, v, d)
          }
          chunk.grouped(math.max(1, chunk.size / 3 + 1)).foreach { g =>
            mem.addData(g)
          }
          rows += chunk.size
        }
        q.processAllAvailable()
        val ops = q.lastProgress.stateOperators
        println(s"""{"probe":"$name","factor":$factor,"rows":$rows,""" +
          s""""state_rows":${ops.map(_.numRowsTotal).sum},""" +
          s""""state_bytes":${ops.map(_.memoryUsedBytes).sum}}""")
      } finally q.stop()
    }

    factors.foreach { f =>
      probeOne("st19_stream_hll_state", f, df =>
        graft.queries.ScaleQueries.hllRegisters(
          df.select(col("user_id").cast("string").as("k"))))
      probeOne("st20_stream_kmv_state", f, df =>
        df.select(conv(substring(md5(col("user_id").cast("string")
            .cast("binary")), 1, 15), 16, 10).cast("long").as("hv"))
          .agg(kmv(col("hv")).as("sk")))
      probeOne("st21_stream_dds_state", f, df =>
        df.withColumn("s",
            expr("cast(greatest(length(bin(val_c)), 3) - 3 as int)"))
          .select(expr("shiftleft(val_c div shiftleft(1L, s), s)").as("lo"))
          .groupBy("lo").agg(count(lit(1)).as("cnt")))
      probeOne("st23_stream_bitmap_state", f, df =>
        df.groupBy("user_id")
          .agg(bit_or(call_function("shiftleft", lit(1L), col("day")))
            .as("bm")))
    }
  }

  /** Manifest-growth anchor (`probe = manifest`): a long-running stream
    * commits one file per epoch through the V2 sink for 120 epochs,
    * with auto-compaction OFF and ON (`autoCompactRows`). Measured per
    * checkpoint: manifest bytes, entry count, data-file count, and mean
    * epoch wall — the round-9 finding made a number: without
    * compaction the manifest is rewritten wholesale every epoch and
    * grows one entry per (epoch × partition) forever (commit cost
    * O(epochs²) cumulative); with it, both the manifest and the file
    * count stay bounded while the committed row count and the read-back
    * aggregate stay identical. */
  /** `streamstate` (round-17): explain the st5/st11/st13 wall floor.
    * ONE watermarked stream-stream join (the st5 shape) runs at event
    * factors 1/3/10, delivered in a FIXED number of micro-batches (3),
    * tuples globally ts-sorted so the watermark advances and evicts
    * per batch — the steady-state shape. Recorded per factor: total
    * wall, per-batch durations (Structured Streaming's own progress),
    * join-state rows and bytes. If the floor is micro-batch machinery,
    * batch_ms stays ~flat while rows grow 10x; if it is state, the
    * durations track state_rows. Results feed the SCALE.md
    * `streamstate` table. */
  private def streamStateProbes(spark: SparkSession, base: String,
      factors: Seq[Int]): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val baseTuples = Tables.events(spark, base)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    factors.foreach { factor =>
      // Copies shift user_id (join keys never cross copies) and
      // event_id (identity stays unique); ts unchanged, then one global
      // ts sort so watermarks advance monotonically across batches.
      val tuples = (0 until factor).flatMap(i => baseTuples.map {
        case (e, u, t) => (e + i * 100000000L, u + i * 10000000L, t)
      }).sortBy(_._3)
      val memL = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val memR = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long)]
      val left = memL.toDF().toDF("event_id", "user_id", "us")
        .withColumn("ts", timestamp_micros(col("us")))
        .withWatermark("ts", "2 hours")
      val right = memR.toDF().toDF("r_event_id", "r_user_id", "r_us")
        .withColumn("r_ts", timestamp_micros(col("r_us")))
        .withWatermark("r_ts", "2 hours")
      val joined = left.join(right,
        col("r_user_id") === col("user_id") && col("r_ts") > col("ts") &&
          col("r_ts") <= col("ts") + expr("INTERVAL 1 HOUR"))
        .select(col("event_id"), col("r_event_id"))
      val q = joined.writeStream.format("noop").outputMode("append").start()
      try {
        val t0 = System.nanoTime()
        val chunkSize = math.max(1, tuples.size / 3 + 1)
        tuples.grouped(chunkSize).foreach { g =>
          memL.addData(g)
          memR.addData(g)
          q.processAllAvailable() // one data-bearing micro-batch per chunk
        }
        val wallS = (System.nanoTime() - t0) / 1e9
        val prog = q.recentProgress.toSeq
        val batchMs = prog.filter(_.numInputRows > 0)
          .map(p => p.durationMs.values.asScala.map(_.longValue).sum)
        val ops = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
        println(s"""{"probe":"streamstate","factor":$factor,""" +
          s""""rows":${tuples.size},"batches":${batchMs.size},""" +
          s""""batch_ms":[${batchMs.mkString(",")}],""" +
          s""""state_rows":${ops.map(_.numRowsTotal).sum},""" +
          s""""state_bytes":${ops.map(_.memoryUsedBytes).sum},""" +
          s""""wall_s":${math.round(wallS * 100) / 100.0}}""")
      } finally q.stop()
    }
  }

  private def manifestProbes(spark: SparkSession, base: String,
      factors: Seq[Int]): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val epochs = 120
    val rowsPerEpoch = 50
    Seq(0L, 500L).foreach { auto =>
      val root = java.nio.file.Files.createTempDirectory("graft_manifest_probe")
      val dir = root.resolve("table").toString
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)]
      val q = mem.toDF().toDF("id", "v")
        .writeStream.format("graft.sources.ManifestSink")
        .option("path", dir)
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .option("autoCompactRows", auto.toString)
        .outputMode("append").start()
      try {
        var wallNs = 0L
        // Per-epoch commit WRITE cost for the two-level manifest: the
        // pointer (rewritten every commit) plus segments that appeared
        // this epoch — the O(delta) claim, measured. A segment from an
        // earlier epoch being re-written would surface here as a size
        // change under an existing name (tracked via the size map).
        var prevSegs = Map.empty[String, Long]
        var writtenBytes = 0L
        def listSegs(): Map[String, Long] = {
          val p = java.nio.file.Paths.get(dir)
          if (!java.nio.file.Files.exists(p)) return Map.empty
          val ls = java.nio.file.Files.list(p)
          try {
            val it = ls.iterator()
            val b = collection.mutable.Map[String, Long]()
            while (it.hasNext) {
              val f = it.next()
              val n = f.getFileName.toString
              if (n.startsWith("seg-") && n.endsWith(".json"))
                b(n) = java.nio.file.Files.size(f)
            }
            b.toMap
          } finally ls.close()
        }
        (1 to epochs).foreach { e =>
          val t0 = System.nanoTime()
          mem.addData((1 to rowsPerEpoch).map(i =>
            (e.toLong * 1000 + i, i.toLong)))
          q.processAllAvailable()
          wallNs += System.nanoTime() - t0
          val pointerBytes = java.nio.file.Files.size(
            java.nio.file.Paths.get(dir, graft.sources.ManifestSink.ManifestName))
          val segs = listSegs()
          writtenBytes += pointerBytes +
            segs.collect { case (n, sz) if !prevSegs.get(n).contains(sz) => sz }.sum
          prevSegs = segs
          if (e % 30 == 0 || e == 1) {
            val mBytes = pointerBytes + segs.values.sum
            val entries = graft.sources.ManifestSink.committedFiles(dir).size
            println(s"""{"probe":"manifest_growth","auto_compact_rows":$auto,""" +
              s""""epoch":$e,"manifest_bytes":$mBytes,"entries":$entries,""" +
              s""""segments":${segs.size},""" +
              s""""rows":${graft.sources.ManifestSink.committedRowCount(dir)},""" +
              f""""mean_commit_write_bytes":${writtenBytes.toDouble / e}%.0f,""" +
              f""""mean_epoch_ms":${wallNs / 1e6 / e}%.1f}""")
          }
        }
      } finally q.stop()
      // Correctness floor: the bounded table still reads back whole.
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      val n = spark.read.format("graft.sources.ManifestSink")
        .schema(sch).option("path", dir).load().count()
      require(n == epochs.toLong * rowsPerEpoch,
        s"manifest probe lost rows: $n of ${epochs * rowsPerEpoch}")
    }
  }

  /** Tail-planning anchor (`probe = tail`): a table accretes 200
    * retained generations (one tiny file each), then the streaming
    * source drains it under `maxGenerationsPerTrigger=1` — 200 real
    * micro-batches, batch k planning against k prior generations. The
    * round-10 fast path diffs POINTERS and reads only new segments, so
    * per-batch wall must stay FLAT in k; the pre-fast-path planner
    * resolved full entry lists at both generations (O(table) per batch,
    * linear growth that compounds to O(G²) over a drain). Reported:
    * mean batch wall over the first and last quartiles of the drain,
    * plus the O(table) cost of one full manifest resolve for scale. */
  private def tailProbes(spark: SparkSession, base: String,
      factors: Seq[Int]): Unit = {
    val gens = 200
    val root = java.nio.file.Files.createTempDirectory("graft_tail_probe")
    val dir = root.resolve("table").toString
    (1 to gens).foreach { g =>
      spark.range(g * 10L, g * 10L + 5).selectExpr("id", "id * 2 AS v")
        .coalesce(1)
        .write.format("graft.sources.ManifestSink")
        .option("path", dir).option("retainHistory", "true")
        .mode("append").save()
    }
    val fullResolveT0 = System.nanoTime()
    val nFiles = graft.sources.ManifestSink.committedFiles(dir).size
    val fullResolveMs = (System.nanoTime() - fullResolveT0) / 1e6
    val batchWalls = collection.mutable.ArrayBuffer[Double]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) batchWalls.synchronized {
          batchWalls += e.progress.durationMs.get("triggerExecution").toDouble
        }
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      val t0 = System.nanoTime()
      val q = spark.readStream.format("graft.sources.ManifestSink")
        .schema(sch).option("path", dir)
        .option("maxGenerationsPerTrigger", "1").load()
        .writeStream.format("memory").queryName("tail_probe")
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val n = spark.table("tail_probe").count()
      require(n == gens.toLong * 5, s"tail probe lost rows: $n of ${gens * 5}")
      val walls = batchWalls.synchronized { batchWalls.toVector }
      val quarter = math.max(walls.size / 4, 1)
      def mean(xs: Seq[Double]): Double = xs.sum / math.max(xs.size, 1)
      println(s"""{"probe":"tail_planning","generations":$gens,""" +
        s""""files":$nFiles,"batches":${walls.size},""" +
        f""""mean_first_quartile_ms":${mean(walls.take(quarter))}%.1f,""" +
        f""""mean_last_quartile_ms":${mean(walls.takeRight(quarter))}%.1f,""" +
        f""""full_resolve_ms":$fullResolveMs%.1f,""" +
        f""""drain_wall_s":$wall%.1f,"rows":$n}""")
    } finally spark.streams.removeListener(listener)
  }

  /** Iterative-graph anchor (`probe = graph`): the q94 PageRank kernel
    * (10 driver-controlled rounds under the loop discipline — AQE and
    * broadcast off, fixed width, lineage re-rooting) on the q94-shaped
    * synthetic graph scaled to `factor`× the base user population. The
    * claim made measurable: round COUNT is fixed by the algorithm, so
    * wall and shuffle must scale with edges-per-round, not with rounds ×
    * corpus. */
  private def graphProbes(spark: SparkSession, base: String,
      factors: Seq[Int]): Unit = {
    val n0 = Tables.events(spark, base).select("user_id").distinct().count()
    factors.foreach { f =>
      val n = n0 * f
      val nodes = spark.range(n).select(col("id").as("r"))
      val edges = nodes
        .select(col("r").as("src"), ((col("r") * 31 + 7) % n).as("dst"))
        .unionByName(nodes.select(col("r").as("src"), ((col("r") + 1) % n).as("dst")))
      runProbe(spark, "q94_pagerank_kernel", f, n) {
        Staging.scope(spark)(
          graft.operators.Graph.pageRank(edges, iterations = 10).count())
      }
    }
  }

  /** Deletion-vector anchor (`probe = dv`): the same K-row scattered
    * SQL DELETE against two otherwise-identical tables — one with
    * deletion vectors, one copy-on-write — at growing corpus factors.
    * The design claim made measurable: the DV path's bytes WRITTEN are
    * O(K) and FLAT in corpus size (a sidecar of K offsets + a manifest
    * swap), while copy-on-write rewrites every touched file, so its
    * bytes written grow linearly with file size. */
  private def dvProbes(spark: SparkSession, factors: Seq[Int]): Unit = {
    import java.nio.file.{Files, Paths}
    def dirFiles(d: java.nio.file.Path): Map[String, Long] = {
      val ls = Files.list(d)
      try {
        val b = Map.newBuilder[String, Long]
        val it = ls.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (Files.isRegularFile(p))
            b += (p.getFileName.toString -> Files.size(p))
        }
        b.result()
      } finally ls.close()
    }
    factors.foreach { f =>
      val n = 200000L * f
      val wh = Files.createTempDirectory(s"graft_dvprobe_$f")
      val cat = s"gdvp$f"
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.base", wh.toString)
      Seq("true", "false").foreach { dvs =>
        val t = if (dvs == "true") "mor" else "cow"
        spark.sql(s"""CREATE TABLE $cat.$t (id BIGINT, v STRING)
          TBLPROPERTIES ('deletionVectors'='$dvs')""")
        spark.range(n).selectExpr("id",
            "concat('payload-', id, '-', repeat('x', 40)) AS v")
          .repartition(8)
          .writeTo(s"$cat.$t").append()
        val dir = wh.resolve(t)
        val before = dirFiles(dir)
        // 16 ids scattered across every file: nothing prunable, the
        // CoW path must rewrite all 8 files, the DV path 16 offsets.
        val ids = (0 until 16).map(i => i * (n / 16) + 7)
        val t0 = System.nanoTime()
        spark.sql(
          s"DELETE FROM $cat.$t WHERE id IN (${ids.mkString(",")})")
        val wallMs = (System.nanoTime() - t0) / 1e6
        val after = dirFiles(dir)
        val written = after.collect {
          case (name, sz) if !before.contains(name) => sz
        }.sum
        val tableBytes = before.values.sum
        val count = spark.sql(s"SELECT count(*) FROM $cat.$t")
          .head.getLong(0)
        require(count == n - 16, s"$t lost rows: $count")
        println(s"""{"probe":"dv_delete","mode":"$t","factor":$f,""" +
          s""""rows":$n,"table_bytes":$tableBytes,""" +
          f""""delete_wall_ms":$wallMs%.0f,"bytes_written":$written}""")

        // Same comparison for UPDATE: merge-on-read appends only the 16
        // replacement rows (+ sidecar); copy-on-write rewrites every
        // touched file in full.
        val tu = s"${t}u"
        spark.sql(s"""CREATE TABLE $cat.$tu (id BIGINT, v STRING)
          TBLPROPERTIES ('deletionVectors'='$dvs')""")
        spark.range(n).selectExpr("id",
            "concat('payload-', id, '-', repeat('x', 40)) AS v")
          .repartition(8)
          .writeTo(s"$cat.$tu").append()
        val dirU = wh.resolve(tu)
        val beforeU = dirFiles(dirU)
        val t1 = System.nanoTime()
        spark.sql(s"UPDATE $cat.$tu SET v = concat(v, '!') " +
          s"WHERE id IN (${ids.mkString(",")})")
        val wallU = (System.nanoTime() - t1) / 1e6
        val writtenU = dirFiles(dirU).collect {
          case (name, sz) if !beforeU.contains(name) => sz
        }.sum
        require(spark.sql(s"SELECT count(*) FROM $cat.$tu")
          .head.getLong(0) == n, s"$tu lost rows")
        println(s"""{"probe":"dv_update","mode":"$t","factor":$f,""" +
          s""""rows":$n,"table_bytes":${beforeU.values.sum},""" +
          f""""update_wall_ms":$wallU%.0f,"bytes_written":$writtenU}""")
      }

      // THE THIRD DELETE SHAPE, measured: the same 16-id scattered
      // delete as an EQUALITY DELETE — O(tombstones) write with zero
      // target scan, against MoR's scan-then-sidecar and CoW's full
      // rewrites above.
      locally {
        val t = "eqd"
        spark.sql(s"CREATE TABLE $cat.$t (id BIGINT, v STRING)")
        spark.range(n).selectExpr("id",
            "concat('payload-', id, '-', repeat('x', 40)) AS v")
          .repartition(8)
          .writeTo(s"$cat.$t").append()
        val dir = wh.resolve(t)
        val before = dirFiles(dir)
        val ids = (0 until 16).map(i => i * (n / 16) + 7)
        import spark.implicits._
        val t0 = System.nanoTime()
        graft.sources.ManifestOps.equalityDelete(dir.toString,
          ids.toDF("id"))
        val wallMs = (System.nanoTime() - t0) / 1e6
        val written = dirFiles(dir).collect {
          case (name, sz) if !before.contains(name) => sz
        }.sum
        val count = spark.sql(s"SELECT count(*) FROM $cat.$t")
          .head.getLong(0)
        require(count == n - 16, s"$t lost rows: $count")
        println(s"""{"probe":"dv_delete","mode":"eqdelete","factor":$f,""" +
          s""""rows":$n,"table_bytes":${before.values.sum},""" +
          f""""delete_wall_ms":$wallMs%.0f,"bytes_written":$written}""")
      }

      // READ AMPLIFICATION at increasing vector density: every scan of
      // a DV'd file re-pays the sidecar load + a binary search per
      // row. Measure a full-scan aggregate at 0% (clean), ~1%, ~10%
      // and 50% deleted, reading dv_rows/dv_bytes back through the
      // t$files metadata table — the "when to CALL system.compact and
      // materialize the debt" curve, measured instead of guessed.
      locally {
        val t = "ramp"
        spark.sql(s"""CREATE TABLE $cat.$t (id BIGINT, v STRING)
          TBLPROPERTIES ('deletionVectors'='true')""")
        spark.range(n).selectExpr("id",
            "concat('payload-', id, '-', repeat('x', 40)) AS v")
          .repartition(8)
          .writeTo(s"$cat.$t").append()
        def scanMs(): Double = {
          val t0 = System.nanoTime()
          spark.sql(s"SELECT sum(length(v)), count(*) FROM $cat.$t")
            .collect()
          (System.nanoTime() - t0) / 1e6
        }
        var deleted = 0L
        // Moduli nest (100 ⊂ 10 ⊂ 2), so cumulative density is exactly
        // 1%, 10%, 50%; re-deleting an already-vectored row is a no-op
        // (it is invisible to the delete's scan).
        Seq(0L, 100L, 10L, 2L).foreach { mod =>
          if (mod > 0L) {
            spark.sql(s"DELETE FROM $cat.$t WHERE id % $mod = 0")
            deleted = spark.sql(
              s"""SELECT sum(dv_rows) FROM $cat.`$t$$files`""")
              .head.getLong(0)
          }
          val dvBytes = spark.sql(
            s"""SELECT coalesce(sum(dv_bytes), 0) FROM $cat.`$t$$files`""")
            .head.getLong(0)
          // Best-of-2: one scan timing is scheduling-noise-bound.
          val wall = math.min(scanMs(), scanMs())
          println(s"""{"probe":"dv_read_amp","factor":$f,"rows":$n,""" +
            s""""dv_rows":$deleted,"dv_bytes":$dvBytes,""" +
            f""""scan_wall_ms":$wall%.0f}""")
        }
      }
    }
  }

  /** Tombstone-I/O anchor (`probe = eqsplit`): one table scanned at
    * shrinking split sizes (so the split count GROWS) with three
    * pending equality-delete files. The claim made measurable: parsed
    * key sets cache per executor, so PHYSICAL tombstone loads stay
    * FLAT (≤ tombstone files × key-column tuples) while splits grow —
    * before the cache every split re-read every applicable tombstone
    * (O(splits × files) I/O, the round-12 judge's finding #2). */
  private def eqSplitProbes(spark: SparkSession, factors: Seq[Int]): Unit = {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_eqsplit").toString
    val n = 400000L
    spark.range(n).selectExpr("id",
        "concat('payload-', id, '-', repeat('x', 40)) AS v")
      .repartition(8)
      .write.format("graft.sources.ManifestSink")
      .option("path", dir).mode("overwrite").save()
    import spark.implicits._
    (0 until 3).foreach { k =>
      graft.sources.ManifestOps.equalityDelete(dir,
        (0 until 8).map(i => i * 50000L + k + 1).toDF("id"))
    }
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    factors.foreach { f =>
      // factor scales the SPLIT COUNT: smaller splits, same table.
      val splitBytes = math.max(1L << 20, (24L << 20) / f)
      val loads0 = graft.sources.ManifestSink.eqKeySetLoads.get()
      val t0 = System.nanoTime()
      val cnt = spark.read.format("graft.sources.ManifestSink")
        .schema(sch).option("path", dir)
        .option("maxSplitBytes", splitBytes.toString)
        .load().count()
      val wall = (System.nanoTime() - t0) / 1e6
      val loads = graft.sources.ManifestSink.eqKeySetLoads.get() - loads0
      require(cnt == n - 24, s"eqsplit lost rows: $cnt")
      var splits = 0L
      locally {
        val walk = Files.walk(java.nio.file.Paths.get(dir))
        try {
          val it = walk.iterator()
          while (it.hasNext) {
            val p = it.next()
            val nm = p.getFileName.toString
            if (nm.startsWith("part-") && nm.endsWith(".ndjson"))
              splits += math.max(1L, (Files.size(p) + splitBytes - 1) / splitBytes)
          }
        } finally walk.close()
      }
      println(s"""{"probe":"eqsplit","factor":$f,"rows":$n,""" +
        s""""split_bytes":$splitBytes,"splits":$splits,""" +
        s""""tombstone_files":3,"physical_loads":$loads,""" +
        f""""scan_wall_ms":$wall%.0f}""")
    }
  }

  /** Sub-file pruning anchor (`probe = blockprune`): one SORTED
    * single-file table per factor, point/range lookups with block
    * stats enabled (1 MB granularity) vs disabled. The claim made
    * measurable: planned BYTES track the predicate's selectivity, not
    * the file size, so point-lookup wall stays flat as the file grows
    * — the parquet row-group skip, reproduced at manifest level. At
    * 100 TB (1 GB files, 16 MB blocks) this is a 64x scan-byte cut on
    * every range-selective query over sorted/clustered tables. */
  private def blockPruneProbes(spark: SparkSession, factors: Seq[Int]): Unit = {
    import java.nio.file.Files
    factors.foreach { f =>
      val n = 200000L * f
      val wh = Files.createTempDirectory(s"graft_blockprune_$f").toString
      // Catalog plugins cache per NAME in the session — a fresh
      // warehouse needs a fresh catalog name per run.
      val cat = s"gbp_${f}_${wh.hashCode & 0x7fffffff}"
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.base", wh)
      def mkTable(name: String, blockBytes: Long): Unit = {
        spark.sql(s"""CREATE TABLE $cat.$name (id BIGINT, v STRING)
          TBLPROPERTIES ('blockbytes'='$blockBytes')""")
        spark.range(n)
          .selectExpr("id", "concat('payload-', id, '-', repeat('x', 80)) AS v")
          .orderBy("id").coalesce(1).writeTo(s"$cat.$name").append()
      }
      mkTable("blk", 1L << 20)
      mkTable("flat", 0L)
      val blocks = graft.sources.ManifestSink
        .committedBlockCounts(s"$wh/blk").values.sum
      def ms(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
      }
      def point(t: String): Double = {
        val mid = n / 2
        // best-of-3: isolate plan+scan cost from JIT/page-cache noise
        (0 until 3).map(_ => ms {
          val r = spark.sql(
            s"SELECT v FROM $cat.$t WHERE id = $mid").collect()
          require(r.length == 1)
        }).min
      }
      def range(t: String): Double = (0 until 3).map(_ => ms {
        val r = spark.sql(s"SELECT count(*) FROM $cat.$t " +
          s"WHERE id >= ${n / 2} AND id < ${n / 2 + 1000}").head().getLong(0)
        require(r == 1000L)
      }).min
      println(s"""{"probe":"blockprune","factor":$f,"rows":$n,""" +
        s""""blocks":$blocks,""" +
        f""""point_blocked_ms":${point("blk")}%.0f,""" +
        f""""point_flat_ms":${point("flat")}%.0f,""" +
        f""""range_blocked_ms":${range("blk")}%.0f,""" +
        f""""range_flat_ms":${range("flat")}%.0f}""")
      spark.sql(s"DROP TABLE $cat.blk")
      spark.sql(s"DROP TABLE $cat.flat")
    }
  }

  /** Seekable-compression anchor (`probe = seekzstd`): ONE sorted zstd
    * file at factor x rows with frame-aligned blocks (the writer seals
    * a frame at every blockbytes boundary and records its physical
    * offset). Two claims made measurable, both features compression
    * used to forfeit: (a) the point-lookup wall stays FLAT as the file
    * grows — block pruning now seeks INSIDE the compressed file — and
    * (b) a full scan of the single file fans out across tasks
    * (frame-parallel split reads) instead of serializing into one
    * decompress stream. */
  private def seekZstdProbes(spark: SparkSession, factors: Seq[Int]): Unit = {
    import java.nio.file.Files
    factors.foreach { f =>
      val n = 200000L * f
      val wh = Files.createTempDirectory(s"graft_seekzstd_$f").toString
      val cat = s"gsz_${f}_${wh.hashCode & 0x7fffffff}"
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.base", wh)
      spark.sql(s"""CREATE TABLE $cat.t (id BIGINT, v STRING)
        TBLPROPERTIES ('codec'='zstd', 'blockbytes'='${1L << 20}')""")
      spark.range(n)
        .selectExpr("id", "concat('payload-', id, '-', repeat('x', 80)) AS v")
        .orderBy("id").coalesce(1).writeTo(s"$cat.t").append()
      val (dataFile, blockCount) = graft.sources.ManifestSink
        .committedBlockCounts(s"$wh/t").head
      val dataBytes = Files.size(java.nio.file.Paths.get(s"$wh/t", dataFile))
      val sch = spark.table(s"$cat.t").schema
      def ms(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
      }
      def reader(split: Long) =
        spark.read.format("graft.sources.ManifestSink").schema(sch)
          .option("path", s"$wh/t").option("maxsplitbytes", split.toString)
          .load()
      def scan(split: Long): Double = (0 until 2).map(_ => ms {
        require(reader(split).selectExpr("sum(id)").head().getLong(0) ==
          n * (n - 1) / 2)
      }).min
      val point = (0 until 3).map(_ => ms {
        require(spark.sql(s"SELECT v FROM $cat.t WHERE id = ${n / 2}")
          .collect().length == 1)
      }).min
      val parallelParts = reader(1L << 20).rdd.getNumPartitions
      val single = scan(1L << 40) // one frame group = one task
      val par = scan(1L << 20)    // one task per ~1 MB logical frame group
      println(s"""{"probe":"seekzstd","factor":$f,"rows":$n,""" +
        s""""blocks":$blockCount,"data_bytes":$dataBytes,""" +
        f""""point_ms":$point%.0f,"scan_single_ms":$single%.0f,""" +
        f""""scan_parallel_ms":$par%.0f,""" +
        s""""parallel_partitions":$parallelParts}""")
      spark.sql(s"DROP TABLE $cat.t")
    }
  }

  /** Compression anchor (`probe = codecbench`): the projscan-shaped
    * wide frame written at each codec — on-disk bytes, write wall, and
    * full-scan wall. The claim made measurable: zstd/gzip cut the
    * corpus's storage and scan I/O several-fold for bounded CPU — at
    * 100 TB the scan is I/O-bound and the cut is the win; on a local
    * page cache the decompress CPU shows as scan-wall overhead, which
    * is the honest lower bound of the trade. */
  private def codecBenchProbes(spark: SparkSession, factors: Seq[Int]): Unit = {
    import java.nio.file.Files
    factors.foreach { f =>
      val n = 100000L * f
      val wideCols = (0 until 20).map(j =>
        s"concat('w$j-', id, '-', repeat('x', 60)) AS w$j")
      val wide = spark.range(n).selectExpr(
        Seq("id", "id % 97 AS k") ++ wideCols: _*)
        .repartition(8).cache()
      wide.count()
      def ms(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
      }
      val results = Seq("none", "gzip", "zstd").map { codec =>
        val wh = Files.createTempDirectory(s"graft_codecbench_$f").toString
        val cat = s"gcb_${f}_${codec}_${wh.hashCode & 0x7fffffff}"
        spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.base", wh)
        spark.sql(s"""CREATE TABLE $cat.t (id BIGINT, k BIGINT,
          ${(0 until 20).map(j => s"w$j STRING").mkString(", ")})
          TBLPROPERTIES ('codec'='$codec')""")
        val wWall = ms(wide.writeTo(s"$cat.t").append())
        var bytes = 0L
        val walk = Files.walk(java.nio.file.Paths.get(wh, "t"))
        try {
          val it = walk.iterator()
          while (it.hasNext) {
            val p = it.next()
            if (p.getFileName.toString.endsWith(".ndjson"))
              bytes += Files.size(p)
          }
        } finally walk.close()
        val sWall = (0 until 2).map(_ => ms {
          require(spark.sql(s"SELECT count(*) FROM $cat.t WHERE k = 13")
            .head().getLong(0) > 0)
        }).min
        spark.sql(s"DROP TABLE $cat.t")
        (codec, bytes, wWall, sWall)
      }
      results.foreach { case (codec, bytes, w, sc) =>
        println(s"""{"probe":"codecbench","factor":$f,"rows":$n,""" +
          s""""codec":"$codec","data_bytes":$bytes,""" +
          f""""write_wall_ms":$w%.0f,"scan_wall_ms":$sc%.0f}""")
      }
      wide.unpersist()
    }
  }

  /** Columnar-lane anchor (`probe = parquetlane`): the projscan-shaped
    * wide frame (2 key columns + 20 fat strings) written as zstd-NDJSON
    * vs the parquet kind (zstd), then scanned at three projections —
    * narrow (one key column), one-fat-column, and full width. The claim
    * made measurable: the NDJSON lane's tokenizer bounds the CPU of a
    * narrow projection but its I/O still reads full rows; the parquet
    * kind's columnar layout makes scan I/O (here: decode work, since
    * the local page cache hides disk) track the projection. At 100 TB
    * the narrow-scan delta IS the scan cost of the corpus. */
  private def parquetLaneProbes(spark: SparkSession, factors: Seq[Int]): Unit = {
    import java.nio.file.Files
    factors.foreach { f =>
      val n = 100000L * f
      val wideCols = (0 until 20).map(j =>
        s"concat('w$j-', id, '-', repeat('x', 60)) AS w$j")
      val wide = spark.range(n).selectExpr(
        Seq("id", "id % 97 AS k") ++ wideCols: _*)
        .repartition(8).cache()
      wide.count()
      def ms(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
      }
      val results = Seq("ndjson-zstd" -> "'codec'='zstd'",
        "parquet-zstd" -> "'filekind'='parquet', 'codec'='zstd'").map {
        case (label, props) =>
          val wh = Files.createTempDirectory(s"graft_pql_$f").toString
          val cat = s"gpl_${f}_${wh.hashCode & 0x7fffffff}"
          spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
          spark.conf.set(s"spark.sql.catalog.$cat.base", wh)
          spark.sql(s"""CREATE TABLE $cat.t (id BIGINT, k BIGINT,
            ${(0 until 20).map(j => s"w$j STRING").mkString(", ")})
            TBLPROPERTIES ($props)""")
          val wWall = ms(wide.writeTo(s"$cat.t").append())
          var bytes = 0L
          val walk = Files.walk(java.nio.file.Paths.get(wh, "t"))
          try {
            val it = walk.iterator()
            while (it.hasNext) {
              val p = it.next()
              val nm = p.getFileName.toString
              if (nm.endsWith(".ndjson") || nm.endsWith(".parquet"))
                bytes += Files.size(p)
            }
          } finally walk.close()
          def best(q: String): Double =
            (0 until 2).map(_ => ms {
              require(spark.sql(q).head().getLong(0) > 0)
            }).min
          val narrow = best(s"SELECT count(*) FROM $cat.t WHERE k = 13")
          val oneFat = best(
            s"SELECT CAST(sum(length(w7)) AS BIGINT) FROM $cat.t")
          val full = best("SELECT count(*) FROM (SELECT " +
            (0 until 20).map(j => s"length(w$j)").mkString(" + ") +
            s" AS tot FROM $cat.t) WHERE tot > 0")
          spark.sql(s"DROP TABLE $cat.t")
          (label, bytes, wWall, narrow, oneFat, full)
      }
      results.foreach { case (label, bytes, w, narrow, oneFat, full) =>
        println(s"""{"probe":"parquetlane","factor":$f,"rows":$n,""" +
          s""""kind":"$label","data_bytes":$bytes,""" +
          f""""write_wall_ms":$w%.0f,"narrow_scan_ms":$narrow%.0f,""" +
          f""""one_fat_col_ms":$oneFat%.0f,"full_scan_ms":$full%.0f}""")
      }
      wide.unpersist()
    }
    // REAL-TEXT frame (the documents corpus): one fat text column
    // beside narrow metadata — the training-corpus shape. Bytes tell
    // the compression story on real prose (the synthetic frame's
    // repeated padding flatters whole-row compression); the narrow
    // scan tells the projection-I/O story.
    locally {
      val docs = Tables.documents(spark,
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
        .repartition(8).cache()
      val n = docs.count()
      def ms(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
      }
      val results = Seq("ndjson-zstd" -> "'codec'='zstd'",
        "parquet-zstd" -> "'filekind'='parquet', 'codec'='zstd'").map {
        case (label, props) =>
          val wh = Files.createTempDirectory("graft_pqld").toString
          val cat = s"gpld_${wh.hashCode & 0x7fffffff}"
          spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
          spark.conf.set(s"spark.sql.catalog.$cat.base", wh)
          spark.sql(s"""CREATE TABLE $cat.t (doc_id BIGINT, lang STRING,
            n_chars BIGINT, text STRING) TBLPROPERTIES ($props)""")
          val wWall = ms(docs.writeTo(s"$cat.t").append())
          var bytes = 0L
          val walk = Files.walk(java.nio.file.Paths.get(wh, "t"))
          try {
            val it = walk.iterator()
            while (it.hasNext) {
              val p = it.next()
              val nm = p.getFileName.toString
              if (nm.endsWith(".ndjson") || nm.endsWith(".parquet"))
                bytes += Files.size(p)
            }
          } finally walk.close()
          def best(q: String): Double =
            (0 until 2).map(_ => ms {
              require(spark.sql(q).head().getLong(0) > 0)
            }).min
          val narrow = best(
            s"SELECT CAST(sum(n_chars) AS BIGINT) FROM $cat.t WHERE lang = 'en'")
          val fat = best(
            s"SELECT CAST(sum(length(text)) AS BIGINT) FROM $cat.t")
          spark.sql(s"DROP TABLE $cat.t")
          (label, bytes, wWall, narrow, fat)
      }
      results.foreach { case (label, bytes, w, narrow, fat) =>
        println(s"""{"probe":"parquetlane","frame":"documents","rows":$n,""" +
          s""""kind":"$label","data_bytes":$bytes,""" +
          f""""write_wall_ms":$w%.0f,"narrow_scan_ms":$narrow%.0f,""" +
          f""""text_scan_ms":$fat%.0f}""")
      }
      docs.unpersist()
    }
  }

  /** Parquet-kind FACTOR anchor (`probe = pqscale`, round-16): the
    * parquetlane probe measured warm-scan RATIOS at one size; this one
    * holds the file-size distribution fixed and grows the FILE COUNT
    * with the factor — the dimension a 100 TB table actually grows
    * along — recording wall / shuffle / peak-task-mem for (a) a
    * split-planned aggregate scan, (b) row-group-append compaction,
    * and (c) the same scan over the compacted multi-row-group files.
    * The claims made measurable: scan wall tracks bytes (linear in f)
    * while PEAK TASK MEMORY stays FLAT (the 4 MB split cap bounds any
    * one task regardless of table size), split fan-out grows with
    * bytes (planned partitions reported), and compaction wall is
    * linear in the bytes it merges. */
  private def pqScaleProbes(spark: SparkSession, factors: Seq[Int]): Unit = {
    import java.nio.file.Files
    factors.foreach { f =>
      val n = 200000L * f
      val files = 4 * f // fixed per-file size; file count grows with f
      val wh = Files.createTempDirectory(s"graft_pqscale_$f").toString
      val cat = s"gpsc_${f}_${wh.hashCode & 0x7fffffff}"
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.base", wh)
      spark.sql(s"""CREATE TABLE $cat.t (id BIGINT, k BIGINT, pad STRING)
        TBLPROPERTIES ('filekind'='parquet', 'blockbytes'='1048576')""")
      spark.range(n).selectExpr("id", "id % 97 AS k",
          "concat('p-', id, '-', repeat('ab', 60)) AS pad")
        .repartition(files).writeTo(s"$cat.t").append()
      def planned(): Int = spark.read
        .format("graft.sources.ManifestSink").option("path", s"$wh/t")
        .option("maxsplitbytes", (4L * 1024 * 1024).toString).load()
        .rdd.getNumPartitions
      def scan(): Long = {
        val df = spark.read.format("graft.sources.ManifestSink")
          .option("path", s"$wh/t")
          .option("maxsplitbytes", (4L * 1024 * 1024).toString).load()
        df.groupBy(col("k") % 8).agg(sum(length(col("pad"))).as("b"))
          .agg(sum(col("b"))).head().getLong(0)
      }
      scan() // warm the page cache / codegen so factors compare cleanly
      println(s"""{"probe":"pqscale_plan","factor":$f,"rows":$n,""" +
        s""""files":$files,"splits":${planned()}}""")
      runProbe(spark, "pqscale_scan", f, n) { scan() }
      runProbe(spark, "pqscale_compact", f, n) {
        graft.sources.ManifestSink.compact(s"$wh/t", 10L * 1000 * 1000).toLong
      }
      println(s"""{"probe":"pqscale_plan_compacted","factor":$f,""" +
        s""""rows":$n,"splits":${planned()}}""")
      runProbe(spark, "pqscale_scan_compacted", f, n) { scan() }
    }
  }

  /** Frame-sealing ratio anchor (`probe = zdict`, round-15 candidate
    * (a)): block sealing makes every `blockbytes` frame compress
    * independently, so small frames lose the cross-frame redundancy a
    * single stream exploits — the gap is what per-file shared zstd
    * dictionaries would claw back. Measured on the REAL documents
    * corpus (one row per text) at several granularities vs the
    * unsealed single stream; the decision rule in SCALE.md keys off
    * the default granularity's gap. */
  private def zdictProbes(spark: SparkSession, base: String): Unit = {
    import java.nio.file.Files
    val docs = Tables.documents(spark, base)
      .select(col("doc_id"), col("text")).coalesce(1).cache()
    val n = docs.count()
    // 16 MB = the writer's default granularity.
    val granularities = Seq(0L, 4096L, 16384L, 65536L, 1048576L,
      16L * 1024 * 1024)
    granularities.foreach { g =>
      val wh = Files.createTempDirectory("graft_zdict").toString
      val cat = s"gzd_${wh.hashCode & 0x7fffffff}"
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.base", wh)
      spark.sql(s"""CREATE TABLE $cat.t (doc_id BIGINT, text STRING)
        TBLPROPERTIES ('codec'='zstd', 'blockbytes'='$g')""")
      docs.writeTo(s"$cat.t").append()
      var bytes = 0L
      val walk = Files.walk(java.nio.file.Paths.get(wh, "t"))
      try {
        val it = walk.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.endsWith(".ndjson"))
            bytes += Files.size(p)
        }
      } finally walk.close()
      // Block count via a pruning-observable proxy is overkill here;
      // frame count tracks logical bytes / blockbytes.
      spark.sql(s"DROP TABLE $cat.t")
      println(s"""{"probe":"zdict","rows":$n,"blockbytes":$g,""" +
        s""""zstd_bytes":$bytes}""")
    }
    docs.unpersist()
  }

  /** Parquet split anchor (`probe = pqsplit`): ONE parquet file
    * (blockbytes=1 MB row groups), scanned single-split vs byte-range
    * fan-out — the seekzstd probe's columnar twin. The claim made
    * measurable: a big parquet data file decodes task-parallel via the
    * midpoint rule instead of single-stream. */
  private def pqSplitProbes(spark: SparkSession, factors: Seq[Int]): Unit = {
    import java.nio.file.Files
    factors.foreach { f =>
      val n = 200000L * f
      val wh = Files.createTempDirectory("graft_pqsplit").toString
      val cat = s"gps_${wh.hashCode & 0x7fffffff}"
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.base", wh)
      spark.sql(s"""CREATE TABLE $cat.t (id BIGINT, pad STRING)
        TBLPROPERTIES ('filekind'='parquet', 'blockbytes'='1048576')""")
      spark.range(n).selectExpr("id",
          "concat('p-', id, '-', repeat('ab', 40)) AS pad")
        .coalesce(1).writeTo(s"$cat.t").append()
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(wh, "t"))
      val size =
        try walk.toArray.map(_.toString).filter(_.endsWith(".parquet"))
          .map(pp => java.nio.file.Files.size(java.nio.file.Paths.get(pp))).sum
        finally walk.close()
      def ms(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
      }
      def scan(splitBytes: Long): (Double, Int) = {
        val df = spark.read.format("graft.sources.ManifestSink")
          .option("path", s"$wh/t")
          .option("maxsplitbytes", splitBytes.toString).load()
        val parts = df.rdd.getNumPartitions
        val wall = (0 until 2).map(_ => ms {
          require(df.selectExpr("sum(length(pad))").head().getLong(0) > 0)
        }).min
        (wall, parts)
      }
      val (single, p1) = scan(Long.MaxValue / 4)
      val (par, pN) = scan(4L * 1024 * 1024)
      spark.sql(s"DROP TABLE $cat.t")
      println(s"""{"probe":"pqsplit","factor":$f,"rows":$n,""" +
        s""""data_bytes":$size,"single_parts":$p1,""" +
        f""""scan_single_ms":$single%.0f,"parallel_parts":$pN,""" +
        f""""scan_parallel_ms":$par%.0f}""")
    }
  }

  /** Write-CPU anchor (`probe = writebench`): wall time to write the
    * projscan-shaped wide frame (2 keys + 20 fat strings) through the
    * manifest committer — the ingest hot path. Byte-level rendering
    * (UTF8String bytes escaped straight to the output buffer, no
    * per-row java String materialization) vs the old
    * StringBuilder-then-BufferedWriter path is what this lane
    * measures across rounds. */
  private def writeBenchProbes(spark: SparkSession, factors: Seq[Int]): Unit = {
    import java.nio.file.Files
    factors.foreach { f =>
      val n = 100000L * f
      val wideCols = (0 until 20).map(j =>
        s"concat('w$j-', id, '-', repeat('x', 60)) AS w$j")
      val wide = spark.range(n).selectExpr(
        Seq("id", "id % 97 AS k") ++ wideCols: _*)
        .repartition(8).cache()
      wide.count() // materialize the input OUTSIDE the timing (cached)
      def ms(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
      }
      val walls = (0 until 2).map { _ =>
        val dir = Files.createTempDirectory(s"graft_writebench_$f").toString
        ms {
          wide.write.format("graft.sources.ManifestSink")
            .option("path", dir).mode("overwrite").save()
        }
      }
      println(s"""{"probe":"writebench","factor":$f,"rows":$n,""" +
        s""""columns":22,""" +
        f""""write_wall_ms":${walls.min}%.0f}""")
      wide.unpersist()
    }
  }

  /** Projection-CPU anchor (`probe = projscan`): one WIDE manifest
    * table (2 narrow keys + 20 fat string payload columns), scanned
    * twice — full width vs a 2-column projection. The claim made
    * measurable: the reader's projection-aware tokenizer makes the
    * narrow scan's CPU track the PROJECTION, not the row width
    * (before, `parseLine` materialized every field of every line, so
    * both scans cost the same). At 100 TB the narrow scan IS the
    * common scan — quality filters, joins on keys, count-bys — and a
    * full-width parse tax on it is the corpus-scan bottleneck. */
  private def projScanProbes(spark: SparkSession, factors: Seq[Int]): Unit = {
    import java.nio.file.Files
    factors.foreach { f =>
      val n = 100000L * f
      val dir = Files.createTempDirectory(s"graft_projscan_$f").toString
      val wideCols = (0 until 20).map(j =>
        s"concat('w$j-', id, '-', repeat('x', 60)) AS w$j")
      val wide = spark.range(n).selectExpr(
        Seq("id", "id % 97 AS k") ++ wideCols: _*)
      wide.repartition(8).write.format("graft.sources.ManifestSink")
        .option("path", dir).mode("overwrite").save()
      def rd() = spark.read.format("graft.sources.ManifestSink")
        .schema(wide.schema).option("path", dir).load()
      def ms(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
      }
      // Full width: every payload column consumed (sum of lengths).
      def full(): Unit = rd().selectExpr(
        "sum(" + (0 until 20).map(j => s"length(w$j)").mkString("+") + ")",
        "count(*)").collect()
      // Narrow: 2 of 22 columns; the reader must SKIP the fat 20.
      def narrow(): Unit =
        rd().groupBy(col("k")).agg(sum(col("id"))).collect()
      val fullMs = math.min(ms(full()), ms(full()))
      val narrowMs = math.min(ms(narrow()), ms(narrow()))
      println(s"""{"probe":"projscan","factor":$f,"rows":$n,""" +
        s""""columns":22,"projected":2,""" +
        f""""full_scan_ms":$fullMs%.0f,"narrow_scan_ms":$narrowMs%.0f,""" +
        f""""narrow_over_full":${narrowMs / fullMs}%.2f}""")
    }
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = (if (args.length > 1) args(1) else "1,3,10")
      .split(",").toSeq.map(_.trim.toInt)
    val probe = if (args.length > 2) args(2) else "dd8"
    val spark = graft.GraftSession(logLevel = "ERROR")
    if (probe == "sketch") {
      sketchProbes(spark, base, factors)
      spark.stop()
      return
    }
    if (probe == "bloom") {
      bloomProbes(spark, base, factors)
      spark.stop()
      return
    }
    if (probe == "graph") {
      graphProbes(spark, base, factors)
      spark.stop()
      return
    }
    if (probe == "stream") {
      streamProbes(spark, base, factors)
      spark.stop()
      return
    }
    if (probe == "streamstate") {
      streamStateProbes(spark, base, factors)
      spark.stop()
      return
    }
    if (probe == "dv") {
      dvProbes(spark, factors)
      spark.stop()
      return
    }
    if (probe == "writebench") {
      writeBenchProbes(spark, factors)
      spark.stop()
      return
    }
    if (probe == "eqsplit") {
      eqSplitProbes(spark, factors)
      spark.stop()
      return
    }
    if (probe == "projscan") {
      projScanProbes(spark, factors)
      spark.stop()
      return
    }
    if (probe == "blockprune") {
      blockPruneProbes(spark, factors)
      spark.stop()
      return
    }
    if (probe == "codecbench") {
      codecBenchProbes(spark, factors)
      spark.stop()
      return
    }
    if (probe == "parquetlane") {
      parquetLaneProbes(spark, factors)
      spark.stop()
      return
    }
    if (probe == "pqscale") {
      pqScaleProbes(spark, factors)
      spark.stop()
      return
    }
    if (probe == "zdict") {
      zdictProbes(spark, base)
      spark.stop()
      return
    }
    if (probe == "pqsplit") {
      pqSplitProbes(spark, factors)
      spark.stop()
      return
    }
    if (probe == "seekzstd") {
      seekZstdProbes(spark, factors)
      spark.stop()
      return
    }
    if (probe == "manifest") {
      manifestProbes(spark, base, factors)
      spark.stop()
      return
    }
    if (probe == "tail") {
      tailProbes(spark, base, factors)
      spark.stop()
      return
    }
    factors.foreach(f => Staging.scope(spark) {
      val docs = scaledDocs(spark, base, f)
      val listener = new ProbeListener
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val pairs = Dedup.minhashNearDupsPortable(docs, "doc_id", "text",
        shingleK = 5, numHashes = 64, bands = 8, threshold = 0.8)
      if (sys.env.contains("SPARK_GRAFT_PROBE_EXPLAIN"))
        pairs.explain("formatted")
      val clusters = Dedup.connectedComponents(pairs, "id1", "id2")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_docs"))
      val (nClusters, nPairs) = (clusters.count(), pairs.count())
      val wall = (System.nanoTime() - t0) / 1e9
      val nDocs = docs.count()
      GraftColumnBridge.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      def mb(b: Long): Double = math.round(b / 1048.576) / 1000.0
      println(
        s"""{"probe":"dd8_minhash_clusters","factor":$f,"docs":$nDocs,""" +
        s""""pairs":$nPairs,"clusters":$nClusters,""" +
        f""""wall_s":$wall%.1f,""" +
        s""""shuffle_read_mb":${mb(listener.shuffleRead.get)},""" +
        s""""shuffle_write_mb":${mb(listener.shuffleWrite.get)},""" +
        s""""spill_mb":${mb(listener.spill.get)},""" +
        s""""peak_task_mem_mb":${mb(listener.peakMem.get)},""" +
        s""""tasks":${listener.tasks.get}}""")
    })
    spark.stop()
  }
}
