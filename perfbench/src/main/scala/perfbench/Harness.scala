package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkEntry
import graft.pipelines.Pipelines
import org.apache.spark.sql.{Row, SparkSession}

/** Closed-loop, single-client driver of one benchmark run.
  *
  * `Harness <plan.json> <result.json>`: the plan (written by run.py) names
  * the workload, its inputs and the operation order of each pass. The
  * harness sets the session up several times, runs one untimed pass that
  * warms the engine and produces every output the checks need, then the
  * plan's untimed warm-up (passes right after the check run up to half
  * again as long as later ones: the JIT is still compiling), then its
  * fixed number of timed passes. A fixed count, not a time limit, keeps
  * every run at the same point of the JIT's warm-up curve: under a time
  * limit a slowed run would run fewer passes and be timed earlier on that
  * curve. Each timed pass gets a fresh session clone, so
  * per-session memos never carry one pass's work into the next. In a
  * traced run untraced and traced passes alternate, with untraced ones
  * first and last, so the tracing overhead is measured. All raw facts land
  * in result.json; run.py turns them into metrics.
  *
  * The engine is reached only through `SparkEntry.queries` followed by
  * `count()`, and `Pipelines.*`. */
object Harness {
  private val mapper = new ObjectMapper()
  type Fact = java.util.LinkedHashMap[String, Any]

  def fact(kv: (String, Any)*): Fact = {
    val m = new Fact()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** `graft.Bench`'s fixed CPU calibration loop, copied so the benchmark
    * does not call into Bench: a loaded box shows as a slower probe. */
  def probeMs(): Double = {
    val t0 = System.nanoTime()
    var s = 0.0
    var i = 0
    while (i < 20000000) { s += java.lang.Math.sqrt(i.toDouble); i += 1 }
    if (s < 0) println(s)
    (System.nanoTime() - t0) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new java.io.File(args(0)))
    val result = new Harness(plan).run()
    mapper.writeValue(new java.io.File(args(1)), result)
  }

  private def readFile(path: String) = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
}

final class Harness(plan: JsonNode) {
  import Harness._

  private val cores = plan.get("cores").asInt
  private val traced = plan.get("trace").asBoolean
  private val work = plan.get("work").asText
  private val fixture = plan.path("fixture").asText("")
  private val etl = plan.path("etl")
  private val isEtl = plan.get("kind").asText == "etl"
  private val orders: Seq[Seq[String]] = plan.get("orders").asScala.toSeq
    .map(_.asScala.toSeq.map(_.asText))

  private var spark: SparkSession = _
  private lazy val specs = SparkEntry.queries
  private lazy val payloads = Seq("users", "posts", "comments")
    .map(n => n -> readFile(etl.get(n).asText)).toMap
  private val log = new SpanLog

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.sources.GraftSparkExtensions")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One set-up: a session with the engine's extensions, plus one small
    * operation that loads classes, fills the engine's metadata caches and
    * compiles the common code paths. */
  private def setupOnce(): Unit = {
    spark = newSession()
    if (isEtl) {
      val (top, perPost, longest) = Pipelines.warehouseQueries(spark,
        etl.get("setup_warehouse").asText)
      Seq(top, perPost, longest).foreach(_.collect())
    } else {
      specs(plan.get("setup_spec").asText)(spark, fixture).count()
      graft.operators.Dedup.releaseCaches(spark)
    }
  }

  def run(): Fact = {
    val probeStart = probeMs()
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = plan.get("setups").asInt
    val setupS = (0 until setups).map { i =>
      val t0 = System.currentTimeMillis()
      setupOnce()
      val t1 = System.currentTimeMillis()
      if (i < setups - 1) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      // The first set-up counts from process start: JVM boot and class
      // loading are set-up a user pays.
      (t1 - (if (i == 0) jvmStartMs else t0)) / 1e3
    }
    val phases = new Fact()
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases.put(name, (System.nanoTime() - t0) / 1e9)
    }
    val check = phase("check") {
      if (isEtl) Seq(etlCycle(spark, None, "check")._1) else registryCheck()
    }
    // A registry warm-up round runs every spec once, `cores` at a time, as
    // the check does: the JIT gets its profile several times faster than
    // from a sequential pass. Rounds never overlap, so no spec ever runs
    // beside itself (several write tables of their own). Sequential
    // warm-up passes follow: the first sequential pass after parallel
    // rounds still compiles for seconds.
    val rounds = plan.get("warmup_rounds").asInt
    phase("warmup_rounds")((0 until rounds).foreach { n =>
      onWorkers(orders(n))((sess, name) => specs(name)(sess, fixture).count())
    })
    val warmup = plan.get("warmup_passes").asInt
    phase("warmup_passes")(
      (0 until warmup).foreach(n => pass(rounds + n, traced = false)))
    // Warm-up is still going on, so each traced pass is bracketed by
    // untraced ones; otherwise the later pass would look cheaper.
    val count = plan.get("passes").asInt.max(if (traced) 3 else 1)
    val passes = new java.util.ArrayList[Fact]()
    phase("timed")((0 until count).foreach { n =>
      val t = traced && n % 2 == 1 && n < count - 1
      passes.add(pass(rounds + warmup + n, traced = t))
    })
    val probeEnd = probeMs()
    val spans = new java.util.ArrayList[Fact]()
    log.spans.foreach { s =>
      spans.add(fact("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "attrs" -> s.attrs.asJava))
    }
    fact("setup_s" -> setupS.asJava, "phase_s" -> phases,
      "probe_ms" -> Seq(probeStart, probeEnd).asJava,
      "peak_rss_kb" -> Snap.peakRssKb(), "check" -> check.asJava,
      "passes" -> passes, "spans" -> spans)
  }

  /** Untimed pass: every member spec once, its output written as parquet
    * for the oracle compare (the layout graft.Verify writes). Doubles as
    * the warm-up of the timed passes. Like graft.Verify it runs `cores`
    * specs at once, each worker on its own session clone: cold specs are
    * bound by single-threaded analysis and code generation. */
  private def registryCheck(): Seq[Fact] = {
    val members = orders.head.distinct.sorted
    new java.io.File(s"$work/check").mkdirs()
    mapper.writeValue(new java.io.File(s"$work/check/oracle_sql.json"),
      SparkEntry.oracleSql.filter { case (k, _) => members.contains(k) }
        .asJava)
    onWorkers(members) { (sess, name) =>
      specs(name)(sess, fixture).coalesce(1).write.mode("overwrite")
        .parquet(s"$work/check/$name")
    }
  }

  /** Runs `body` once per name, `cores` names at a time, each worker on
    * its own session clone; returns a fact per name: its seconds and the
    * error it threw, if any. */
  private def onWorkers(names: Seq[String])(
      body: (SparkSession, String) => Unit): Seq[Fact] = {
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String](
      names.asJava)
    val facts = new java.util.concurrent.ConcurrentLinkedQueue[Fact]()
    val workers = (0 until cores).map { _ =>
      val t = new Thread(() => {
        val sess = spark.newSession()
        var name = queue.poll()
        while (name != null) {
          val t0 = System.nanoTime()
          val err = try { body(sess, name); null }
            catch { case e: Throwable => String.valueOf(e) }
            finally graft.operators.Dedup.releaseCaches(sess)
          facts.add(fact("name" -> name,
            "seconds" -> (System.nanoTime() - t0) / 1e9, "error" -> err))
          name = queue.poll()
        }
      })
      t.start()
      t
    }
    workers.foreach(_.join())
    facts.asScala.toSeq.sortBy(_.get("name").toString)
  }

  /** One timed pass on a fresh session clone, over `orders(n)` (registry)
    * or one refresh cycle (etl). It starts from a collected heap, so one
    * pass's garbage is not the next one's pause. */
  private def pass(n: Int, traced: Boolean): Fact = {
    System.gc()
    val sess = spark.newSession()
    val sc = sess.sparkContext
    val tracer = if (traced) Some(new Tracer(sess, cores)) else None
    tracer.foreach(_.start())
    val passId = if (traced) log.span(-1, "pass", log.nowMs, 0) else -1
    val ops = new java.util.ArrayList[Fact]()
    val cycles = new java.util.ArrayList[Any]()
    val windows = mutable.ArrayBuffer[(String, Long, Long)]()
    val extra = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    var pinnedPeak = 0.0
    val before = Snap.take()
    val t0 = System.nanoTime()

    if (isEtl) {
      val (f, w) = etlCycle(sess, Some(passId).filter(_ => traced), "cycle")
      ops.addAll(f.get("ops").asInstanceOf[java.util.List[Fact]])
      cycles.add(f.get("result"))
      windows ++= w
      if (traced) extra("etl.files_written") += countFiles(s"$work/warehouse")
    } else orders(n % orders.size).foreach { name =>
      val io0 = Snap.take()
      val ids0 = tracer.map(_.storage()._2).getOrElse(Set.empty[Int])
      var seen = ids0
      def sample(): Unit = tracer.foreach { t =>
        val (mb, ids) = t.storage()
        pinnedPeak = pinnedPeak.max(mb)
        seen ++= ids
      }
      val s0 = log.nowMs
      val w0 = System.currentTimeMillis()
      sc.setLocalProperty(Tracer.PhaseKey, "build")
      val a = System.nanoTime()
      var b, c = -1L
      var rows = -1L
      var err: String = null
      try {
        val df = specs(name)(sess, fixture)
        b = System.nanoTime()
        sample()
        sc.setLocalProperty(Tracer.PhaseKey, "count")
        rows = df.count()
        c = System.nanoTime()
        sample()
      } catch { case e: Throwable => err = String.valueOf(e) }
      finally {
        sc.setLocalProperty(Tracer.PhaseKey, "release")
        graft.operators.Dedup.releaseCaches(sess)
        sc.setLocalProperty(Tracer.PhaseKey, null)
      }
      val d = System.nanoTime()
      val io = Snap.take() - io0
      if (b < 0) b = d
      if (c < 0) c = d
      windows += ((name, w0, System.currentTimeMillis()))
      tracer.foreach { t =>
        extra("staging.persisted_rdds") += (seen -- ids0).size
        extra("staging.leaked_rdds") += (t.storage()._2 -- ids0).size
        extra("queries.build_s") += (b - a) / 1e9
        if (name.matches("a\\d+_.*")) {
          extra("table.syscr") += io.syscr
          extra("table.rchar_mb") += io.rchar / Tracer.MB
          extra("table.wchar_mb") += io.wchar / Tracer.MB
        }
        def at(ns: Long) = s0 + (ns - a) / 1e6
        val op = log.span(passId, name, s0, at(d), io.attrs)
        log.span(op, "build", s0, at(b))
        log.span(op, "count", at(b), at(c))
        log.span(op, "release", at(c), at(d))
      }
      ops.add(fact("name" -> name, "build_s" -> (b - a) / 1e9,
        "count_s" -> (c - b) / 1e9, "total_s" -> (d - a) / 1e9,
        "cpu_s" -> io.cpuNs / 1e9, "jit_s" -> io.jitMs / 1e3,
        "wchar" -> io.wchar, "rows" -> rows, "error" -> err))
    }

    val wallS = (System.nanoTime() - t0) / 1e9
    val delta = Snap.take() - before
    val layers = tracer.map { t =>
      t.stop()
      log.close(passId)
      val agg = t.aggregate(wallS, windows.toSeq)
      agg ++= extra
      agg("staging.pinned_mb_peak") = pinnedPeak
      agg("jvm.gc_s") = delta.gcMs / 1e3
      agg("jvm.jit_s") = delta.jitMs / 1e3
      if (isEtl) {
        val cycleIds = log.spans.filter(_.parent == passId).map(_.id).toSet
        val byName = log.spans.filter(s => cycleIds(s.parent))
          .groupMapReduce(_.name)(s => (s.endMs - s.startMs) / 1e3)(_ + _)
        agg("etl.users_s") = byName.getOrElse("usersEtl", 0.0)
        agg("etl.posts_s") = byName.getOrElse("postsEtl", 0.0)
        agg("etl.comments_s") = byName.getOrElse("commentsEtl", 0.0)
        agg("etl.queries_s") = byName.getOrElse("warehouseQueries", 0.0)
      }
      agg.map { case (k, v) => k -> Double.box(v) }.asJava
    }.orNull
    fact("traced" -> traced, "wall_s" -> wallS, "cpu_s" -> delta.cpuNs / 1e9,
      "wchar" -> delta.wchar, "rchar" -> delta.rchar, "ops" -> ops,
      "cycles" -> cycles, "layers" -> layers)
  }

  private def countFiles(dir: String): Long =
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .count(p => java.nio.file.Files.isRegularFile(p)).toLong

  /** One refresh cycle: users -> posts -> comments -> the three warehouse
    * queries, each result collected. Returns the ops with the outputs the
    * checks compare against the truth, and the ops' epoch-ms windows. */
  private def etlCycle(sess: SparkSession, passId: Option[Int], tag: String)
      : (Fact, Seq[(String, Long, Long)]) = {
    val sc = sess.sparkContext
    val wh = s"$work/warehouse"
    val ops = new java.util.ArrayList[Fact]()
    val windows = mutable.ArrayBuffer[(String, Long, Long)]()
    val cycleId = passId.map(p => log.span(p, tag, log.nowMs, 0))
    def op[T](name: String)(body: => T): Option[T] = {
      val io0 = Snap.take()
      val s0 = log.nowMs
      val w0 = System.currentTimeMillis()
      val a = System.nanoTime()
      val (res, err) = try (Some(body), null: String)
        catch { case e: Throwable => (None, String.valueOf(e)) }
      val d = System.nanoTime()
      val io = Snap.take() - io0
      windows += ((name, w0, System.currentTimeMillis()))
      cycleId.foreach(log.span(_, name, s0, s0 + (d - a) / 1e6, io.attrs))
      ops.add(fact("name" -> name, "build_s" -> (d - a) / 1e9,
        "count_s" -> 0.0, "total_s" -> (d - a) / 1e9,
        "cpu_s" -> io.cpuNs / 1e9, "wchar" -> io.wchar, "rows" -> -1L,
        "error" -> err))
      res
    }
    val reports = new java.util.ArrayList[Fact]()
    def report(r: Pipelines.LoadReport) = reports.add(fact(
      "table" -> r.table, "rows" -> r.rows, "fk_orphans" -> r.fkOrphans,
      "pk_duplicates" -> r.pkDuplicates, "ok" -> r.ok))
    op("usersEtl")(Pipelines.usersEtl(sess, payloads("users"),
      s"$work/staging", wh)).foreach(_.foreach(report))
    op("postsEtl")(Pipelines.postsEtl(sess, payloads("posts"), wh))
      .foreach(report)
    op("commentsEtl")(Pipelines.commentsEtl(sess, payloads("comments"), wh))
      .foreach(report)
    val queries = op("warehouseQueries") {
      val (top, perPost, longest) = Pipelines.warehouseQueries(sess, wh)
      (top.collect(), perPost.collect(), longest.collect())
    }
    cycleId.foreach(log.close)
    def rows(rs: Array[Row]) = rs.toSeq.map(r => (0 until r.length)
      .map(i => r.get(i) match {
        case null => null
        case v: java.lang.Number => Long.box(v.longValue)
        case v => v.toString
      }).asJava).asJava
    val result = queries.map { case (top, perPost, longest) =>
      fact("top_commenters" -> rows(top), "comments_per_post" -> rows(perPost),
        "longest_comments" -> rows(longest))
    }.orNull
    (fact("tag" -> tag, "ops" -> ops,
      "result" -> fact("reports" -> reports, "queries" -> result)),
      windows.toSeq)
  }
}
