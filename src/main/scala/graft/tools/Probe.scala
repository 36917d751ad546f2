package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry, Staging}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Layer-by-layer probe of registered queries (measure first): each rep
  * of each query whose name starts with one of the prefixes prints one
  * line splitting its wall time into
  *  - rows, and build / plan / count milliseconds (build runs the spec
  *    function, plan forces analysis, optimization and planning, count
  *    executes);
  *  - the Catalyst phases of the query's own `QueryPlanningTracker`;
  *  - jobs, stages, tasks and summed task milliseconds from the
  *    scheduler — wall >> taskSum / cores means the driver, not the
  *    data, is the cost;
  *  - `compiles`, the generated classes Janino compiled (cache misses
  *    of `CodeGenerator`, counted by `CodegenMetrics`), and `compileMs`,
  *    their summed compile time;
  *  - for streaming specs: the micro-batches, their summed
  *    `StreamingQueryProgress.durationMs` by phase (latestOffset,
  *    queryPlanning, walCommit, addBatch, commitOffsets, ...) and the
  *    build time outside `triggerExecution` (source construction,
  *    `start()`, the result read).
  *
  * `<outDir>/<name>.txt` gets the final adaptive plan (`FormattedMode`:
  * the first rep's plan, executed once more untimed so AQE's runtime
  * rewrites show) and the per-stage table of the last rep.
  *
  * The first rep pays analysis, code generation and JIT; later reps are
  * the steady state. The session is [[graft.GraftSession]]'s, so confs
  * for an A/B go through its `GRAFT_CONF` (e.g. the RocksDB state-store
  * provider).
  *
  *   sbt "runMain graft.tools.Probe /root/testdata/sf0.1 3 /tmp/probe q94 st5"
  */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: Probe <sfDir> <reps> <outDir> <name-prefix>...")
    val Array(sfDir, repsArg, outDir) = args.take(3)
    val reps = repsArg.toInt
    require(reps >= 1, s"reps must be at least 1, got $reps")
    val prefixes = args.drop(3).toSeq
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => prefixes.exists(name.startsWith) }
    require(picked.nonEmpty,
      s"no registered query starts with ${prefixes.mkString(", ")}")
    val spark = GraftSession()
    val sc = spark.sparkContext
    val facts = new Facts
    sc.addSparkListener(facts)
    spark.streams.addListener(facts.batches)
    Files.createDirectories(Paths.get(outDir))
    picked.foreach { case (name, fn) =>
      try {
        var plan = ""
        (1 to reps).foreach(rep => Staging.scope(spark) {
          GraftColumnBridge.drainListenerBus(sc)
          facts.reset()
          val compiles0 = compiles
          val compileNs0 = CodeGenerator.compileTime
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          val rows = df.count()
          val t3 = System.nanoTime()
          GraftColumnBridge.drainListenerBus(sc)
          val phases = Seq("analysis", "optimization", "planning").map { p =>
            val ms = df.queryExecution.tracker.phases.get(p)
              .fold(0L)(s => s.endTimeMs - s.startTimeMs)
            s"$p=${ms}ms"
          }
          val buildMs = (t1 - t0) / 1e6
          println(f"[probe] $name rep$rep: rows=$rows build=$buildMs%.1fms " +
            f"plan=${(t2 - t1) / 1e6}%.1fms count=${(t3 - t2) / 1e6}%.1fms | " +
            phases.mkString(" ") + " | " + facts.scheduler +
            s" compiles=${compiles - compiles0} " +
            f"compileMs=${(CodeGenerator.compileTime - compileNs0) / 1e6}%.1f" +
            facts.batches.summary(buildMs))
          val stages = facts.stageTable
          if (rep == 1) {
            // Drive this Dataset's own QueryExecution (count() planned a
            // new one), so the dump shows isFinalPlan=true.
            df.queryExecution.toRdd.count()
            plan = df.queryExecution.explainString(FormattedMode)
          }
          if (rep == reps)
            Files.write(Paths.get(outDir, s"$name.txt"),
              (plan + s"\n== Stages of rep $rep ==\n" + stages).getBytes(UTF_8))
        })
      } catch {
        case e: Throwable => println(s"[probe] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** Janino compiles so far in this JVM: generated classes that missed
    * `CodeGenerator`'s cache. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Scheduler counters and per-stage rows since the last `reset`. */
  private final class Facts extends SparkListener {
    private val jobs, stages, tasks = new AtomicInteger
    private val taskMs = new AtomicLong
    private val stageRows = mutable.ArrayBuffer[String]()
    val batches = new Batches

    def reset(): Unit = {
      Seq(jobs, stages, tasks).foreach(_.set(0))
      taskMs.set(0)
      stageRows.synchronized(stageRows.clear())
      batches.reset()
    }

    def scheduler: String = s"jobs=${jobs.get} stages=${stages.get} " +
      s"tasks=${tasks.get} taskSum=${taskMs.get}ms"

    def stageTable: String = stageRows.synchronized(
      ("stage tasks     run     cpu  deser    gc | name" +: stageRows.toSeq)
        .mkString("", "\n", "\n"))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val si = e.stageInfo
      val tm = si.taskMetrics
      if (tm != null) stageRows.synchronized {
        stageRows += f"${si.stageId}%5d ${si.numTasks}%5d " +
          f"${tm.executorRunTime}%6dms ${tm.executorCpuTime / 1000000}%6dms " +
          f"${tm.executorDeserializeTime}%5dms ${tm.jvmGCTime}%4dms | " +
          si.name.take(90)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
    }
  }

  /** Micro-batch count and summed `durationMs` by phase since `reset`. */
  private final class Batches extends StreamingQueryListener {
    private var count = 0
    private val phaseMs = mutable.Map[String, Long]().withDefaultValue(0L)

    def reset(): Unit = synchronized { count = 0; phaseMs.clear() }

    /** "" for a rep that ran no micro-batch. */
    def summary(buildMs: Double): String = synchronized {
      if (count == 0) ""
      else {
        val phases = phaseMs.toSeq.sorted
          .map { case (k, v) => s"$k=${v}ms" }.mkString(" ")
        f" | batches=$count $phases " +
          f"outsideTrigger=${buildMs - phaseMs("triggerExecution")}%.1fms"
      }
    }

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      count += 1
      e.progress.durationMs.asScala.foreach { case (k, v) =>
        phaseMs(k) += v.longValue
      }
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
