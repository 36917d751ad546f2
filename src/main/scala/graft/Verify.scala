package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run on a small thread pool (SPARK_GRAFT_VERIFY_THREADS,
  * default 4): per-query cost at sf0.01 is dominated by driver-side
  * analysis/codegen, which is single-threaded per query, so overlapping
  * queries cuts the dump's wall-clock without needing more cores. Each
  * worker runs on its own `spark.newSession()` clone — sessions share the
  * SparkContext but have isolated SQLConf, so operators that temporarily
  * mutate session conf (Streams.runToTable's state-partition sizing, the
  * dd7 label-propagation loop's AQE toggle) stay correct under
  * concurrency: their `spark.synchronized` guards and set/restore pairs
  * are per-session, and no cross-thread query observes the mutation. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: comma-separated name prefixes — run only
    // matching queries (local iteration; the driver always passes two).
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    // Default 8: at 220+ registered queries the dump is driver-side
    // bound (analysis/codegen per query); 8 workers measured 61 s vs
    // ~5 min at 4 on the 32-core harness box, with no worker starvation.
    val threads =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "8").toInt)
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    val work = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach(work.add)
    // Per-query watchdog: a hung query would otherwise pin its worker
    // silently until the pool's 2-hour deadline and eat the round's
    // correctness budget. Each query runs under its own job group with
    // interrupt-on-cancel; the watchdog cancels the group at the
    // timeout AND interrupts the worker thread — per-query cost is
    // dominated by driver-side analysis/codegen, which runs on the
    // worker OUTSIDE any job, so cancelJobGroup alone cannot unstick a
    // hang there. The raised exception surfaces through the normal
    // `[verify] <name> failed:` path and the worker moves on. (Job
    // groups are thread-local on the shared SparkContext, so parallel
    // workers cannot cancel each other.)
    val timeoutS =
      sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_S", "600").toLong
    val watchdog =
      java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
        val t = new Thread(r, "verify-watchdog"); t.setDaemon(true); t
      }
    // Per-query elapsed seconds, dumped alongside the results so a spec
    // creeping toward the watchdog limit is visible in round artifacts
    // before it ever times out.
    val timings = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    (1 to threads).foreach { _ =>
      pool.execute { () =>
        val sess = spark.newSession()
        val worker = Thread.currentThread()
        var item = work.poll()
        while (item != null) {
          val (name, fn) = item
          sess.sparkContext.setJobGroup(s"verify-$name",
            s"verify $name", interruptOnCancel = true)
          val kill = watchdog.schedule({ () =>
            System.err.println(
              s"[verify] $name exceeded ${timeoutS}s — cancelling its jobs")
            sess.sparkContext.cancelJobGroup(s"verify-$name")
            worker.interrupt()
          }: Runnable, timeoutS, java.util.concurrent.TimeUnit.SECONDS)
          val t0 = System.nanoTime()
          try fn(sess, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
          // Cache registrations are session-scoped, so each worker can
          // release after every query without touching the staged plans
          // of another worker's in-flight query.
          finally {
            if (!kill.cancel(false)) {
              // The watchdog already fired (or is mid-fire): wait it out,
              // then clear any interrupt it left so the flag cannot leak
              // into the next query's work.
              try kill.get() catch { case _: Throwable => () }
              Thread.interrupted()
            }
            timings.put(name, (System.nanoTime() - t0) / 1e9)
            sess.sparkContext.clearJobGroup()
            graft.operators.Dedup.releaseCaches(sess)
          }
          item = work.poll()
        }
      }
    }
    pool.shutdown()
    pool.awaitTermination(2, java.util.concurrent.TimeUnit.HOURS)
    // Slowest-first so the artifact reads as a budget report.
    locally {
      import scala.jdk.CollectionConverters._
      val body = timings.asScala.toSeq.sortBy(-_._2)
        .map { case (n, s) =>
          val secs = String.format(java.util.Locale.ROOT, "%.2f", Double.box(s))
          s""""$n": $secs"""
        }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/timings.json"), body)
    }
    graft.operators.Dedup.releaseCaches()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
