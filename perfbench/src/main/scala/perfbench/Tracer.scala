package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is -1 for a pass. */
final case class Span(id: Int, parent: Int, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double])

/** Process counters read at span boundaries: /proc/self/io and JMX. */
final case class Snap(rchar: Long, wchar: Long, syscr: Long, cpuNs: Long,
    gcMs: Long, jitMs: Long) {
  def -(o: Snap): Snap = Snap(rchar - o.rchar, wchar - o.wchar,
    syscr - o.syscr, cpuNs - o.cpuNs, gcMs - o.gcMs, jitMs - o.jitMs)

  /** A delta as span attributes. */
  def attrs: Map[String, Double] = Map("rchar" -> rchar.toDouble,
    "wchar" -> wchar.toDouble, "syscr" -> syscr.toDouble,
    "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs.toDouble,
    "jit_ms" -> jitMs.toDouble)
}

object Snap {
  import java.lang.management.ManagementFactory
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def take(): Snap = {
    val io = scala.util.Try(scala.io.Source.fromFile("/proc/self/io"))
      .map { s => try s.getLines().toList finally s.close() }
      .getOrElse(Nil)
      .flatMap(_.split(":\\s*") match {
        case Array(k, v) => Some(k -> v.trim.toLong)
        case _ => None
      }).toMap
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    Snap(io.getOrElse("rchar", 0L), io.getOrElse("wchar", 0L),
      io.getOrElse("syscr", 0L), os.getProcessCpuTime, gc, jit)
  }

  /** VmHWM in kB: the process's peak resident set. */
  def peakRssKb(): Long = {
    val s = scala.io.Source.fromFile("/proc/self/status")
    try s.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L) finally s.close()
  }
}

/** Listener-side record of one job: its wall interval, the op phase it
  * started in (build / count / release), its SQL execution and the first
  * engine frame of its call site. */
final case class JobRec(id: Int, startMs: Long, var endMs: Long,
    phase: String, execId: Long, frame: Option[(String, String, String)])

final case class TaskRec(stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    schedMs: Long, fetchWaitMs: Long, shWrite: Long, shRead: Long,
    spill: Long, ok: Boolean)

/** Every span of the run, kept in memory and written once at the end. */
final class SpanLog {
  val spans = mutable.ArrayBuffer[Span]()
  private val t0Ns = System.nanoTime()
  def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6

  def span(parent: Int, name: String, startMs: Double, endMs: Double,
      attrs: Map[String, Double] = Map.empty): Int = {
    spans += Span(spans.size, parent, name, startMs, endMs, attrs)
    spans.size - 1
  }

  def close(id: Int): Unit = spans(id) = spans(id).copy(endMs = nowMs)
}

/** The Spark listeners of one traced pass, registered on that pass's
  * session: scheduler events, Catalyst phase times and streaming progress.
  * `aggregate` turns them into the pass's per-layer totals. */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  // ---- what the listeners saw during this pass ----
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val execFrames = new java.util.concurrent.ConcurrentHashMap[
    Long, (String, String, String)]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val phases = new ConcurrentLinkedQueue[(String, Long)]()
  private val progress =
    new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        .getOrElse("")
      // The result stage is created last, so it has the highest id; its
      // details hold the job's call site.
      val details = e.stageInfos.sortBy(_.stageId).lastOption
        .map(_.details).getOrElse("")
      val exec = scala.util.Try(prop(ExecKey).toLong).getOrElse(-1L)
      jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L, prop(PhaseKey), exec,
        engineFrame(details)))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    // Jobs a query runs on Spark's own threads (broadcasts, AQE stages)
    // carry no engine frame; the query's execution start does.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        engineFrame(s.details).foreach(f => execFrames.put(s.executionId, f))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = Option(e.taskMetrics)
      val info = e.taskInfo
      val run = m.map(_.executorRunTime).getOrElse(0L)
      val sched = m.map(x => info.duration - x.executorRunTime -
        x.executorDeserializeTime - x.resultSerializationTime).getOrElse(0L)
      tasks.add(TaskRec(e.stageId, run,
        m.map(_.executorCpuTime).getOrElse(0L),
        m.map(_.jvmGCTime).getOrElse(0L), math.max(0L, sched),
        m.map(_.shuffleReadMetrics.fetchWaitTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(x => x.shuffleReadMetrics.localBytesRead +
          x.shuffleReadMetrics.remoteBytesRead).getOrElse(0L),
        m.map(_.diskBytesSpilled).getOrElse(0L),
        info.successful))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      qe.tracker.phases.foreach { case (p, s) => phases.add(p -> s.durationMs) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      ()
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** MB held by persisted RDDs, and their ids. */
  def storage(): (Double, Set[Int]) = {
    val sc = spark.sparkContext
    val mb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB
    (mb, sc.getPersistentRDDs.keySet.toSet)
  }

  /** Per-layer totals of one traced pass, from the listener records and
    * the pass's op spans. `ops` are (name, start, end) in epoch ms. */
  def aggregate(passWallS: Double, ops: Seq[(String, Long, Long)])
      : mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    val js = jobs.values().asScala.toSeq.map(j => if (j.frame.isDefined) j
      else j.copy(frame = Option(execFrames.get(j.execId))))
    val ts = tasks.asScala.toSeq
    val byJob = ts.groupBy(t => Option(stageJob.get(t.stageId)).map(_.toInt)
      .getOrElse(-1))
    def jobTaskS(j: JobRec) = byJob.getOrElse(j.id, Nil).map(_.runMs).sum / 1e3
    def jobWallS(j: JobRec) =
      if (j.endMs >= j.startMs) (j.endMs - j.startMs) / 1e3 else 0.0

    out("queries.build_jobs") = js.count(_.phase == "build").toDouble
    val ph = phases.asScala.groupMapReduce(_._1)(_._2)(_ + _)
    out("catalyst.analysis_s") = ph.getOrElse("analysis", 0L) / 1e3
    out("catalyst.optimization_s") = ph.getOrElse("optimization", 0L) / 1e3
    out("catalyst.planning_s") = ph.getOrElse("planning", 0L) / 1e3

    val taskS = ts.map(_.runMs).sum / 1e3
    out("exec.jobs") = js.size.toDouble
    out("exec.stages") = ts.map(_.stageId).distinct.size.toDouble
    out("exec.tasks") = ts.size.toDouble
    out("exec.task_s") = taskS
    out("exec.task_cpu_s") = ts.map(_.cpuNs).sum / 1e9
    out("exec.gc_s") = ts.map(_.gcMs).sum / 1e3
    out("exec.sched_delay_s") = ts.map(_.schedMs).sum / 1e3
    out("exec.shuffle_fetch_wait_s") = ts.map(_.fetchWaitMs).sum / 1e3
    out("exec.shuffle_write_mb") = ts.map(_.shWrite).sum / MB
    out("exec.shuffle_read_mb") = ts.map(_.shRead).sum / MB
    out("exec.spill_mb") = ts.map(_.spill).sum / MB
    out("exec.busy_frac") =
      if (passWallS > 0) taskS / (passWallS * cores) else 0.0
    out("exec.driver_s") = ops.map { case (_, s, e) =>
      (e - s - covered(s, e, js.filter(_.endMs >= 0)
        .map(j => (j.startMs, j.endMs)))) / 1e3
    }.sum
    out("exec.stage_skew") = ts.filter(_.ok).groupBy(_.stageId).values
      .filter(_.size >= 2).map { st =>
        val sorted = st.map(_.runMs.toDouble).sorted
        val med = median(sorted)
        if (med > 0) sorted.last / med else 1.0
      }.foldLeft(0.0)(math.max)
    out("exec.task_failures") = ts.count(!_.ok).toDouble

    def opsFile(file: String) = js.filter(_.frame.exists(_._3 == file))
    for ((layer, file) <- OpsFiles)
      out(s"ops.$layer.task_s") = opsFile(file).map(jobTaskS).sum
    out("ops.graph.jobs") = opsFile("Graph.scala").size.toDouble

    def ingest(kind: String) = js.filter(j => j.frame.exists(f =>
      ingestKind(f._1, f._2).contains(kind)))
    out("ingest.parse_s") = ingest("parse").map(jobWallS).sum
    out("ingest.parse_tasks") =
      ingest("parse").map(j => byJob.getOrElse(j.id, Nil).size).sum.toDouble
    out("ingest.stage_write_s") = ingest("stage_write").map(jobWallS).sum
    out("ingest.load_write_s") = ingest("load_write").map(jobWallS).sum
    out("pipelines.validate_s") = ingest("validate").map(jobWallS).sum

    val ps = progress.asScala.toSeq.map(_.progress)
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k))
      .map(_.longValue).getOrElse(0L)).sum / 1e3
    out("stream.batches") = ps.size.toDouble
    out("stream.latest_offset_s") = dur("latestOffset")
    out("stream.query_planning_s") = dur("queryPlanning")
    out("stream.wal_commit_s") = dur("walCommit")
    out("stream.add_batch_s") = dur("addBatch")
    out("stream.commit_offsets_s") = dur("commitOffsets")
    out("stream.trigger_s") = dur("triggerExecution")
    // State size as of each query's last batch, summed over queries.
    val last = ps.groupBy(_.runId).values.map(_.maxBy(_.batchId))
    out("stream.state_rows") =
      last.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble
    out("stream.state_mb") =
      last.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum / MB
    out
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"
  val ExecKey = "spark.sql.execution.id"
  val MB = 1024.0 * 1024.0

  /** Operator layers whose eager jobs are attributed by call-site file. */
  val OpsFiles = Seq("similarity" -> "Similarity.scala",
    "dedup" -> "Dedup.scala", "text" -> "TextAnalysis.scala",
    "graph" -> "Graph.scala")

  private val Frame =
    """^\s*(graft\.[\w.$]+?)\.([\w$]+)\((\w+\.scala):\d+\)""".r

  /** (class, method, file) of the first engine frame in a call site. */
  def engineFrame(callSite: String): Option[(String, String, String)] =
    callSite.linesIterator.collectFirst {
      case Frame(cls, method, file) => (cls, method, file)
    }

  /** Which ingest/pipeline step a job belongs to, from its first frame. */
  def ingestKind(cls: String, method: String): Option[String] = {
    def has(ms: String*) = ms.exists(method.contains)
    if (cls.startsWith("graft.sources.Ingest")) {
      if (has("readJsonString", "readNdjson", "readJsonArray")) Some("parse")
      else if (has("writeNdjson", "writeJsonArray")) Some("stage_write")
      else if (has("writeStar", "writeParquetOverwrite")) Some("load_write")
      else None
    } else if (cls.startsWith("graft.pipelines.Pipelines")) Some("validate")
    else None
  }

  /** Milliseconds of [s, e] covered by the union of `ivs`. */
  def covered(s: Long, e: Long, ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur = s
    for ((a, b) <- ivs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)) {
      val from = math.max(a, cur)
      if (b > from) { total += b - from; cur = b }
    }
    total
  }

  def median(sorted: Seq[Double]): Double =
    if (sorted.isEmpty) 0.0
    else if (sorted.size % 2 == 1) sorted(sorted.size / 2)
    else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2
}
