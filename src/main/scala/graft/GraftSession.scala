package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main (Bench, Verify, the tools) and
  * the test suites' shared session get the same engine from here, so a
  * tool's "isolated steady state" times what the bench times.
  *
  *  - `local[cpus]` with one shuffle partition per core; `cpus` is
  *    `SPARK_GRAFT_CPUS` (default 4) unless the caller pins it.
  *  - UTC session time zone.
  *  - `nanosAsLong`: harness parquet carries TIMESTAMP(NANOS). Sessions
  *    the driver builds never pass through here, so `Tables.doLoad`
  *    also sets it defensively (documented at `SparkEntry.entry`).
  *  - `graft.sources.GraftSparkExtensions`: `table_changes`, SQL views,
  *    generated columns, the MERGE guard and the custom SQL functions.
  *  - `canChangeCachedPlanOutputPartitioning`: cached plans get AQE
  *    byte-sized output partitions (rationale at `Tables.doLoad`;
  *    full-bench A/B 240.1 -> 226.9 s).
  *
  * Dev knob (never set by the driver): `GRAFT_CONF="k=v;k=v"` adds
  * confs after these defaults, so an A/B needs no recompile. They are
  * builder confs, so `newSession()` clones inherit them too. */
object GraftSession {
  private def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(cpus: Int = envCpus, logLevel: String = "WARN"): SparkSession = {
    val devConfs = sys.env.get("GRAFT_CONF").toSeq
      .flatMap(_.split(";")).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k.trim -> v.trim }
    val spark = devConfs.foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toLong)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.extensions", "graft.sources.GraftSparkExtensions")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
          "true")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** `body` with each `key -> value` set on `spark`. Afterwards, whether
    * `body` returns or throws, each key gets its previous value back, or
    * is unset if it had none. Synchronized on the session: the confs are
    * session-global, so interleaved calls could otherwise restore each
    * other's values out of order and leave the session misconfigured.
    * Threads that `body` starts and waits for see the confs, but must not
    * call `withConf` on the same session: the caller holds its monitor. */
  def withConf[T](spark: SparkSession, confs: (String, String)*)(body: => T): T =
    spark.synchronized {
      val set = spark.conf.getAll
      val prev = confs.map { case (k, _) => k -> set.get(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.reverse.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
}
