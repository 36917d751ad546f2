package graft.streaming

import graft.GraftSession
import graft.sources.Publish
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table: tumbling /
  * sliding / session windows, watermarked late-data handling, and
  * streaming dedup.
  *
  * The reference is batch-only (every DAG sets `schedule_interval=None`,
  * `/root/reference/dags/users_etl.py:174`); this is the engine's
  * streaming extension (SURVEY §2.E). Batch/stream parity is the design
  * invariant: each transform is a plain DataFrame function usable on both
  * `spark.read` and `spark.readStream` inputs, and the driver-oracled
  * specs prove the streaming results equal the batch SQL the DuckDB
  * oracle runs.
  *
  * Scale notes: windowed aggregation shuffles on (window, keys) exactly
  * like a batch groupBy; watermarks bound state size (state store keeps
  * only windows newer than watermark); `Trigger.AvailableNow` gives
  * deterministic catch-up batches for tests and backfills.
  */
object Streams {

  /** Streaming scan of the events table (file source; at scale this is a
    * Kafka/queue source with the identical downstream plan).
    *
    * The file source requires a directory, so the scan lists `dir` with a
    * glob filter for the events file. Event time stays `TimestampType`
    * (not NTZ): watermarks and streaming dedup require it
    * (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise); with the session
    * in UTC the wall-clock values are identical, and window bounds are
    * cast back to NTZ at the output edge for oracle comparability.
    *
    * The `ts` physical type is PROBED from the file, not assumed: the
    * harness generator has emitted both parquet TIMESTAMP(NANOS) (which
    * surfaces as LongType under `nanosAsLong` and needs a `DIV 1000`
    * rebuild — the same defensive pattern as [[graft.Tables]]) and plain
    * TIMESTAMP(MICROS) (read directly). Hard-coding either breaks the
    * other: a nanos divide applied to micros compresses the event
    * timeline 1000×. */
  // The footer probe below costs ~80-170 ms of driver time per call and
  // every streaming spec pays it (the join specs twice).
  private[graft] val eventsSchemaCache = new graft.sources.StatCache[StructType]()

  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set( // see Tables.doLoad — same defensive per-session set
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // One driver-side footer read; the streaming source needs an explicit
    // schema anyway, so probing it from the batch reader costs nothing
    // extra and keeps stream and batch reads byte-identical.
    // A non-local `dir` has no local file to stat: probe uncached.
    def probe = spark.read
      .option("pathGlobFilter", "events.parquet").parquet(dir).schema
    val events = java.nio.file.Paths.get(dir, "events.parquet")
    val onDisk =
      if (java.nio.file.Files.exists(events)) eventsSchemaCache.get(events)(probe)
      else probe
    val raw = spark.readStream
      .schema(onDisk)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    onDisk("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) as raw nanos: exact integer µs rebuild
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampType => raw
      case _ => // TIMESTAMP_NTZ: identity wall-clock cast under UTC session
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Tumbling-window counts per event type. */
  def tumblingCounts(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Sliding-window counts (window `width`, slide `slide`). */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
      slide: String = "30 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"), col("n"))

  /** Session windows per user: events closer than `gap` merge into one
    * session `[first_ts, last_ts + gap)`. Works identically over batch
    * DataFrames (used by the oracled spec) and streams (used by the
    * watermarked test). */
  def sessionCounts(events: DataFrame, gap: String = "10 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"),
        col("w.start").cast("timestamp_ntz").as("session_start"),
        col("w.end").cast("timestamp_ntz").as("session_end"),
        col("n"), col("total_value"))

  /** Session windows in append mode with a watermark — the production
    * configuration: state is bounded (sessions older than the watermark
    * are finalized and evicted) and each session is emitted exactly once,
    * which is what a downstream incremental sink needs. Under
    * `Trigger.AvailableNow` the no-data flush batch advances the final
    * watermark to `max(ts) - delay`, so the emitted set is exactly the
    * sessions with `session_end <= max(ts) - delay` — the predicate the
    * batch oracle replays (spec `st9_stream_session_append`; the
    * complete-mode spec st7 covers the unfiltered session set). */
  def sessionCountsAppend(events: DataFrame, gap: String = "10 minutes",
      delay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"),
        col("w.start").cast("timestamp_ntz").as("session_start"),
        col("w.end").cast("timestamp_ntz").as("session_end"),
        col("n"), col("total_value"))

  /** Streaming exact dedup on identity columns, watermark-bounded state:
    * rows older than the watermark are evictable from the dedup state
    * store — the only way identity dedup stays O(window) at 100 TB/day. */
  def dedupStream(events: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicates("event_id", "ts")
      .select(col("event_id"), col("user_id"), col("event_type"))

  /** Arbitrary stateful processing (`flatMapGroupsWithState`): running
    * (count, sum) per user, state carried across micro-batches, one
    * update row emitted per touched group per batch. This is the custom-
    * state escape hatch for logic windowed aggregates can't express;
    * state volume is one (long, double) pair per user — bounded by key
    * cardinality, not stream length. Emitted counts are monotone per
    * user, so the final state of a multi-batch run is recoverable
    * downstream as `max_by(sum, n)` (see spec `st8_stream_custom_state`,
    * which must not depend on how AvailableNow slices the input into
    * batches). */
  def runningUserTotals(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) { (user, rows, state) =>
        var (n, s) = state.getOption.getOrElse((0L, 0.0))
        rows.foreach { r => n += 1; s += r._2 }
        state.update((n, s))
        Iterator((user, n, s))
      }
      .toDF("user_id", "n", "sum_v")
  }

  /** Streaming CDC compaction (`flatMapGroupsWithState`): per-key
    * latest-wins state over a change log — the stream twin of the
    * q197/q80 batch compaction. State per user = (rows-seen, best sort
    * key, event id, op, cents); each batch folds its rows into the state
    * (order-independent: a pure max by the sort key) and emits the
    * current compacted row. Emission count `n` is monotone per user, so
    * the final state of a multi-batch run is recoverable downstream as
    * `max_by(·, n)` — the st8 batch-robustness recipe. Tombstone ops
    * ride along in the emitted row; the CALLER applies the delete
    * filter after recovering final state (filtering inside the stream
    * would suppress the emission that retracts an earlier live row).
    * Input must carry (user_id, sk, event_id, op, val_c). */
  def cdcCompactState(changeLog: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = changeLog.sparkSession
    import spark.implicits._
    changeLog.select(col("user_id").cast("long"), col("sk").cast("string"),
        col("event_id").cast("long"), col("op").cast("string"),
        col("val_c").cast("long"))
      .as[(Long, String, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, String, Long, String, Long),
        (Long, Long, Long, String, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) { (user, rows, state) =>
        var (n, sk, eid, op, v) = state.getOption.getOrElse((0L, "", 0L, "", 0L))
        rows.foreach { r =>
          n += 1
          if (r._2 > sk) { sk = r._2; eid = r._3; op = r._4; v = r._5 }
        }
        state.update((n, sk, eid, op, v))
        Iterator((user, n, eid, op, v))
      }
      .toDF("user_id", "n", "last_event_id", "last_op", "val_c")
  }

  /** Streaming point-in-time features (`flatMapGroupsWithState`,
    * APPEND mode): the q206 feature-store join as a stream — each
    * purchase emits, exactly once, features computed from the STRICTLY
    * earlier rows of its user (lifetime counts + trailing-7-day spend),
    * never from itself or anything later. Per-user state = two counters
    * plus the (second, cents) buffer of the trailing window, evicted as
    * the user's event time advances — bounded by events-per-user-week,
    * not stream length. Rows within a batch are folded in CDC sort-key
    * order, so batch slicing cannot reorder a user's timeline. Input
    * must carry (user_id, sk, event_id, event_type, es, val_c). */
  def pitFeatureState(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("sk").cast("string"),
        col("event_id").cast("long"), col("event_type").cast("string"),
        col("es").cast("long"), col("val_c").cast("long"))
      .as[(Long, String, Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Seq[(Long, Long)]),
        (Long, Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (user, rows, state) =>
        var (n, np, buf) = state.getOption.getOrElse(
          (0L, 0L, Seq.empty[(Long, Long)]))
        val out = Seq.newBuilder[(Long, Long, Long, Long, Long)]
        rows.toSeq.sortBy(_._2).foreach { r =>
          val (_, _, eid, typ, es, vc) = r
          if (typ == "purchase") {
            // Features BEFORE folding this row in: strictly-prior rows
            // only — the q206 leakage contract, [es-7d, es-1] spend.
            val spend = buf.iterator
              .filter(e => e._1 >= es - 604800L && e._1 <= es - 1L)
              .map(_._2).sum
            out += ((user, eid, n, np, spend))
          }
          n += 1
          if (typ == "purchase") np += 1
          buf = (buf :+ ((es, vc))).filter(_._1 >= es - 604800L)
        }
        state.update((n, np, buf))
        out.result().iterator
      }
      .toDF("user_id", "label_event_id", "prior_events", "prior_purchases",
        "spend_7d_c")
  }

  /** [[runningUserTotals]] re-expressed on the Spark 4 `transformWithState`
    * API (the successor to `flatMapGroupsWithState`: typed state handles,
    * TTL support, timers, state-schema evolution). Same semantics —
    * running (count, sum) per user, one update row per touched group per
    * batch, monotone counts — so the same batch oracle applies. Requires
    * the RocksDB state-store provider (API contract; see
    * [[runToTableRocksDB]]). */
  def runningUserTotalsTws(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update(),
        org.apache.spark.sql.Encoders.product[(Long, Long, Double)])
      .toDF("user_id", "n", "sum_v")
  }

  /** Per-user running (count, sum) as a `StatefulProcessor`: one
    * `ValueState` handle, no timers/TTL. State volume = one (long,
    * double) pair per user, exactly like the `flatMapGroupsWithState`
    * formulation it mirrors. */
  private class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Double), (Long, Long, Double)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var totals: ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double)]("totals",
        org.apache.spark.sql.Encoders.product[(Long, Double)], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
      var (n, s) = Option(totals.get()).getOrElse((0L, 0.0))
      rows.foreach { r => n += 1; s += r._2 }
      totals.update((n, s))
      Iterator((user, n, s))
    }
  }

  /** Session counts with TIMER-driven emission on `transformWithState`:
    * nothing is emitted while a session is live; when the event-time
    * timer at `last event + gap` fires (the watermark passed it), the
    * session's (user, n) emits once and its state clears. This is the
    * API's distinguishing feature over `flatMapGroupsWithState` (typed
    * timers per key, re-registered on every new event) and the manual
    * analog of `session_window` — used when the session logic needs
    * per-event state no windowed aggregate expresses. Input must carry
    * a watermark (event-time TimeMode contract). */
  def sessionCountsByTimer(events: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"),
        unix_millis(col("ts").cast("timestamp")))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new TimerSessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[(Long, Long)])
      .toDF("user_id", "n")
  }

  /** The timer-driven session kernel for [[sessionCountsByTimer]]: one
    * ValueState (count, lastTsMs) per user; each batch re-registers the
    * session-close timer at `last + gap` (deleting the previous one);
    * expiry emits and clears. */
  private class TimerSessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("sess",
        org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      var (n, last) = Option(st.get()).getOrElse((0L, Long.MinValue))
      val prevTimer = if (last == Long.MinValue) None else Some(last + gapMs)
      rows.foreach { r => n += 1; if (r._2 > last) last = r._2 }
      st.update((n, last))
      prevTimer.foreach(getHandle.deleteTimer)
      getHandle.registerTimer(last + gapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long)] = {
      val out = Option(st.get()).map(s => Iterator((user, s._1))).getOrElse(Iterator.empty)
      st.clear()
      out
    }
  }

  /** Chained stateful aggregation (Spark's multiple-stateful-operators
    * support): tumbling per-(window, user) counts re-aggregated per
    * window into (distinct users, total events) — the two-phase rollup
    * every funnel/engagement dashboard runs, expressed as ONE streaming
    * query instead of a staging table + second job. The second groupBy
    * keys on the UNMODIFIED window struct (the chaining contract);
    * append mode, so windows emit once their end passes the watermark. */
  def twoPhaseWindow(events: DataFrame, width: String = "1 hour",
      delay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", delay)
      .groupBy(window(col("ts"), width).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("n_users"), col("n_events"))

  /** Per-user per-event-type running counts on a `MapState` handle — the
    * keyed-sub-state shape (`state[user][event_type] += n`) that a
    * ValueState would have to serialize wholesale on every update;
    * MapState reads/writes only the touched sub-keys, the point of the
    * handle at production state sizes. Emits one (user, type, n) row per
    * TOUCHED type per batch (update semantics). */
  def eventTypeCountsTws(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("event_type").cast("string"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Update(),
        org.apache.spark.sql.Encoders.product[(Long, String, Long)])
      .toDF("user_id", "event_type", "n")
  }

  private class TypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), (Long, String, Long)] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[(Long, String, Long)] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { r =>
        val k = r._2
        val cur = if (counts.containsKey(k)) counts.getValue(k) else 0L
        counts.updateValue(k, cur + 1L)
        touched += k
      }
      touched.iterator.map(k => (user, k, counts.getValue(k))).toSeq.iterator
    }
  }

  /** Last-K event ids per user on a `ListState` handle (bounded recency
    * buffer — the feature-store "recent items" shape). `appendValue`
    * per event, truncation via `put` only when the bound is exceeded;
    * emits the buffer as a comma-joined string per touched user per
    * batch. */
  def recentEventsTws(events: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("event_id").cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RecentEventsProcessor(k),
        TimeMode.None(), OutputMode.Update(),
        org.apache.spark.sql.Encoders.product[(Long, String)])
      .toDF("user_id", "recent")
  }

  private class RecentEventsProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, String)] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var recent: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      recent = getHandle.getListState[Long]("recent",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, String)] = {
      rows.foreach(r => recent.appendValue(r._2))
      val all = recent.get().toArray
      if (all.length > k) recent.put(all.takeRight(k))
      Iterator((user, recent.get().mkString(",")))
    }
  }

  /** [[runToTable]] under the RocksDB state-store provider — required by
    * `transformWithState`, and the production state backend once state
    * exceeds executor heap (changelog checkpointing, off-heap blocks).
    * Provider conf is set for the run and restored after (measured at
    * tiny state RocksDB is ~2× the default provider's commit cost — use
    * it for API reasons or GB-scale state, not by default). */
  def runToTableRocksDB(df: DataFrame, name: String, outputMode: String,
      statePartitions: Int = 4): DataFrame =
    GraftSession.withConf(df.sparkSession,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )(runToTable(df, name, outputMode, statePartitions))

  /** Merge one batch into a parquet target by `key`, newest `sortKey`
    * wins — the upsert kernel for [[foreachBatchUpsert]], also callable
    * for batch backfills. Idempotent: re-applying a batch already merged
    * changes nothing. The rewrite goes through a staging directory and an
    * atomic rename (you cannot overwrite a parquet dir you are reading).
    * At scale this exact merge runs against a table format with real
    * MERGE (Delta/Iceberg) or partition-scoped overwrite
    * (`Ingest.writePartitioned` + dynamic overwrite); the plan shape —
    * union, one per-key argmax aggregation — is the same. */
  def upsertInto(batch: DataFrame, targetPath: String, key: String,
      sortKey: String): Unit = {
    val spark = batch.sparkSession
    val target = new java.io.File(targetPath)
    val existing =
      if (target.isDirectory) spark.read.parquet(targetPath)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
    val cols = batch.columns
    val merged = existing.unionByName(batch)
      .groupBy(col(key))
      .agg(max_by(struct(cols.filterNot(_ == key).map(col): _*), col(sortKey))
        .as("__r"))
      .select(col(key) +: cols.filterNot(_ == key).map(c => col(s"__r.$c").as(c)): _*)
    val staging = targetPath + ".staging"
    merged.coalesce(1).write.mode("overwrite").parquet(staging)
    // Swap: the staged result becomes the target only after it is fully
    // written — readers never observe a half-rewritten table.
    Publish.swapDir(java.nio.file.Paths.get(staging), target.toPath)
  }

  /** Streaming upsert sink via `foreachBatch`: every micro-batch merges
    * into the parquet target by key (newest `sortKey` wins). foreachBatch
    * is the escape hatch for sinks Structured Streaming has no native
    * writer for — the batch DataFrame plus a monotone batchId, with
    * which [[upsertInto]]'s idempotency gives effective exactly-once on
    * retries. */
  def foreachBatchUpsert(stream: DataFrame, targetPath: String, key: String,
      sortKey: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertInto(batch, targetPath, key, sortKey)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** State partitions for a run, derived from the stream's file-source
    * input volume (round-18, guide §2: scale-adaptive partitioning —
    * the house `Dedup.loopParts` pattern instead of a constant sized to
    * the bench SF): one partition per 64 MB of source bytes as the
    * state-volume proxy, floored at `floor` (the measured local minimum
    * — below 4 the per-batch commit cost is flat) and capped at the
    * session's shuffle width. Sources without file stats (DSv2 pages,
    * manifest streams — all small here) stay at the floor. State
    * partitions follow state volume, not CPU count, so the derivation
    * keys on bytes; a 100 TB/day deployment overrides per run via
    * `GRAFT_STREAM_STATE_PARTITIONS` exactly like
    * `spark.sql.shuffle.partitions` for stateful queries. */
  private[graft] def derivedStatePartitions(df: DataFrame,
      floor: Int): Int = {
    val spark = df.sparkSession
    val width = math.max(floor,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val bytes =
      try {
        import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
        df.queryExecution.logical.collect {
          case sr: StreamingRelation =>
            val glob = sr.dataSource.options.get("pathGlobFilter").map(g =>
              java.nio.file.FileSystems.getDefault.getPathMatcher(s"glob:$g"))
            sr.dataSource.paths.map { p =>
              val f = new java.io.File(p)
              if (f.isFile) f.length
              else if (f.isDirectory) {
                val kids = f.listFiles()
                if (kids == null) 0L
                else kids.iterator.filter(k => k.isFile && glob.forall(
                  _.matches(java.nio.file.Paths.get(k.getName)))).map(_.length).sum
              } else 0L
            }.sum
        }.sum
      } catch { case _: Throwable => 0L }
    math.min(width, math.max(floor,
      ((bytes + (64L << 20) - 1) / (64L << 20)).toInt))
  }

  /** Run a streaming DataFrame to completion with `Trigger.AvailableNow`
    * into an in-memory table and return the final result as a static
    * DataFrame. Deterministic: processes everything available, then
    * stops — the streaming analog of a batch run (used by the
    * driver-oracled specs; a production job would use the same plan with
    * a real sink and a continuous trigger). */
  def runToTable(df: DataFrame, name: String, outputMode: String,
      statePartitions: Int = 4,
      // `false` skips the trailing NO-DATA micro-batch (round-18, guide
      // §2/§5 — amortize per-batch constants: one fewer offset-log +
      // commit-log + planning + state-commit round per run). ONLY legal
      // for queries whose stateful operators emit rows exclusively on
      // DATA arrival — inner/semi stream-stream joins and streaming
      // dedup, where the watermark-advance batch evicts state but can
      // emit nothing. Callers must keep the default for append-mode
      // aggregations (windows emit AT the flush) and outer joins
      // (null-extended rows emit AT the flush).
      noDataFlush: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    // Scale knob: explicit env override wins (validated — a malformed
    // value must fail loudly, not deep inside the run); otherwise the
    // count derives from input volume with the caller's value as the
    // floor. The count is baked into the checkpoint, so a production
    // resume pins it via the override.
    val wantParts = sys.env.get("GRAFT_STREAM_STATE_PARTITIONS") match {
      case Some(v) =>
        val n = scala.util.Try(v.trim.toInt).toOption
        require(n.exists(_ >= 1),
          s"GRAFT_STREAM_STATE_PARTITIONS must be a positive integer, got '$v'")
        n.get
      case None => derivedStatePartitions(df, statePartitions)
    }
    // Stateful operators create one state store per shuffle partition,
    // and each store pays commit/checkpoint I/O per micro-batch — at
    // this state size that overhead dominates (measured 6.5 s → 3.7 s on
    // the stream-stream join going 32 → 8). Size state partitions to
    // state volume, not to CPU count; restored after the run so batch
    // queries keep the session's parallelism (GraftSession.withConf).
    GraftSession.withConf(spark,
      Seq("spark.sql.shuffle.partitions" -> wantParts.toString) ++
        Option.when(!noDataFlush)(
          "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"): _*) {
      df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    spark.table(name)
  }
}
