package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, In, LessThanOrEqual}
import org.apache.spark.sql.types.StructType

/** Table-level operations composed FROM the committer's primitives —
  * the copy-on-write recipes a real table format ships (Delta MERGE,
  * Iceberg copy-on-write), expressed as: plan the affected file set
  * from manifest stats, read ONLY those files (`fileSubset`), rewrite,
  * and atomically swap old for new in one manifest commit
  * (`replaceFiles`). Everything data-sized runs as Spark jobs;
  * everything manifest-sized stays driver-side metadata work. */
object ManifestOps {

  /** How many distinct update keys we are willing to hold on the driver
    * to plan the affected-file set EXACTLY (an `In` test per file).
    * Beyond it, planning falls back to the keys' min/max range — files
    * inside the range but holding no actual key rewrite unnecessarily
    * (correct, just extra I/O), the classic exactness/driver-memory
    * trade. */
  val ExactKeyPlanningLimit: Int = 100000

  /** Copy-on-write MERGE (upsert by `key`): rows of `updates` replace
    * same-key rows of the table; new keys append.
    *
    *  1. PLAN: manifest stats pick the files whose `key` bounds may
    *     contain an update key — O(manifest) driver work, zero data
    *     I/O. Files out of range are never read or rewritten (with
    *     key-sorted/partitioned layout that is almost all of them).
    *  2. REWRITE: only the affected files are read (`fileSubset`);
    *     their non-updated rows union the updates — one anti-join on
    *     `key` (Spark broadcasts the usually-small update key set).
    *  3. SWAP: one commit publishes the rewritten files and retires
    *     the affected ones (`replaceFiles`) in the same manifest
    *     generation — readers see the old state or the new one, never
    *     both or neither. A concurrent commit that already replaced an
    *     affected file fails the swap loudly (optimistic concurrency).
    *
    * `updates` must carry the full table schema and at most one row per
    * key (dedupe upstream — e.g. q197's CDC argmax). Returns the number
    * of files rewritten.
    *
    * OPTIMISTIC-CONCURRENCY RETRY (the Iceberg/Delta commit loop): a
    * merge that loses a race — its swap names a file a concurrent
    * commit already replaced, or the publish lock is held at swap
    * time — re-plans the ENTIRE operation against the new current
    * generation and tries again, up to `maxRetries` times. Re-running
    * is correct because MERGE is an idempotent upsert over its own
    * keys: the re-plan reads the winner's committed state, so disjoint
    * concurrent merges all land and overlapping ones serialize to
    * last-writer-wins per key. Only after exhausting retries does the
    * conflict surface. */
  def mergeInto(spark: SparkSession, dir: String, updates: DataFrame,
      key: String, writeOptions: Map[String, String] = Map.empty,
      maxRetries: Int = 3): Int = {
    def isConflict(t: Throwable): Boolean =
      if (t == null) false
      else if (t.getMessage != null &&
        (t.getMessage.contains("no longer committed") ||
          t.getMessage.contains("deletion vector changed") ||
          t.getMessage.contains("concurrent committer") ||
          t.getMessage.contains("lost the reacquire race") ||
          t.getMessage.contains("lost the reclaim race") ||
          t.getMessage.contains("lock activity detected") ||
          // The read half of losing a CoW race: the winner's commit
          // deleted a replaced file while our rewrite was still
          // scanning it.
          t.getMessage.contains("vanished between planning and reading"))) true
      else isConflict(t.getCause)
    var attempt = 0
    while (true) {
      try return mergeOnce(spark, dir, updates, key, writeOptions)
      catch {
        case e: Exception if isConflict(e) && attempt < maxRetries =>
          attempt += 1
          // Brief jittered backoff: the winner's swap is milliseconds;
          // an immediate retry would mostly re-collide on the lock.
          Thread.sleep(50L + scala.util.Random.nextInt(150))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def mergeOnce(spark: SparkSession, dir: String, updates: DataFrame,
      key: String, writeOptions: Map[String, String]): Int = {
    val schema: StructType = updates.schema
    require(schema.fieldNames.contains(key), s"updates lack key column '$key'")

    // --- 1. Plan the affected file set from manifest stats.
    val entries = ManifestSink.committedEntries(dir)
    val keyDs = updates.select(key).na.drop().distinct()
    val keys = keyDs.limit(ExactKeyPlanningLimit + 1).collect().map(_.get(0))
    val affected =
      if (keys.isEmpty) Seq.empty[StagedFile]
      else {
        val r = updates.selectExpr(s"min(`$key`)", s"max(`$key`)").head
        def inRange(e: StagedFile): Boolean =
          ManifestStats.mayMatch(schema, e, GreaterThanOrEqual(key, r.get(0))) &&
            ManifestStats.mayMatch(schema, e, LessThanOrEqual(key, r.get(1)))
        if (keys.length <= ExactKeyPlanningLimit) {
          // Range precheck first: the exact In test is O(keys) per
          // file, so files outside the update keys' global range —
          // with sorted/partitioned layout, almost all of them — must
          // never pay it.
          val in: Filter = In(key, keys.map(_.asInstanceOf[Any]))
          entries.filter(e =>
            inRange(e) && ManifestStats.mayMatch(schema, e, in))
        } else entries.filter(inRange)
      }

    // --- 2. Rewrite: untouched rows of affected files + all updates.
    val merged =
      if (affected.isEmpty) updates
      else {
        val current = spark.read.format("graft.sources.ManifestSink")
          .schema(schema).option("path", dir)
          .option("fileSubset", affected.map(_.name).mkString(","))
          .load()
        current.join(keyDs, Seq(key), "left_anti").unionByName(updates)
      }

    // --- 3. One atomic swap: publish rewrites, retire originals.
    val w = merged.write.format("graft.sources.ManifestSink")
      .option("path", dir).mode("append")
    writeOptions.foreach { case (k, v) => w.option(k, v) }
    if (affected.nonEmpty)
      // `name=dvSidecar` pins the deletion vector the plan read: a
      // concurrent merge-on-read delete between plan and swap fails
      // the commit loudly (and the retry loop re-plans) instead of
      // silently resurrecting the concurrently deleted rows.
      w.option("replaceFiles", affected.map(e =>
        e.name + e.dv.map("=" + _).getOrElse("")).mkString(","))
    w.save()
    affected.size
  }

  /** EQUALITY DELETE — the streaming-CDC delete shape (Iceberg's
    * equality-delete files, which Flink CDC writes): commit a small
    * NDJSON file of KEY TUPLES that is applied at READ time to every
    * data file committed BEFORE it (the per-entry `seq` rule), so a
    * tombstone burst costs O(tombstones) — no target scan, no
    * (_file,_pos) lookup, no file rewrites. Contrast the two existing
    * delete shapes: copy-on-write rewrites O(file bytes) per touched
    * file; positional deletion vectors write O(KB) sidecars but must
    * first SCAN to find the matched rows' positions. At 100 TB a CDC
    * pipeline cannot scan the target per micro-batch — this is the
    * shape that keeps the delete write proportional to the delete.
    *
    * `keys` carries ONLY the key columns (its schema names them); rows
    * stream driver-side via toLocalIterator — O(tombstones) bytes,
    * constant memory, and the table's data files are never opened
    * (IngestSpec pins this by hiding them during the commit). Reads
    * drop matching-key rows (`eqRowsSkipped` metric); a later
    * re-insert of a deleted key survives (its file's seq is newer);
    * compaction materializes applicable deletes and retires tombstone
    * files no remaining data file predates.
    *
    * Returns the number of key tuples committed (0 = no-op, no
    * generation published). */
  def equalityDelete(dir: String, keys: DataFrame,
      retain: Boolean = false): Long = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    keys.schema.fields.foreach(f => require(NdjsonCodec.supported(f.dataType),
      s"equality-delete key column ${f.name}: ${f.dataType} unsupported"))
    // Iceberg's identifier-field rule, same rationale: the membership
    // test is RENDERED-LITERAL equality, and float/double text is
    // width- and vintage-sensitive — a FLOAT→DOUBLE widen re-renders
    // 0.1f as 0.10000000149…, so a tombstone keyed on the served
    // (table-typed) value would silently miss every pre-widen file's
    // rows. Refuse loudly; delete by a stable (integral/string/
    // temporal) key instead.
    keys.schema.fields.foreach(f => require(
      f.dataType != org.apache.spark.sql.types.FloatType &&
        f.dataType != org.apache.spark.sql.types.DoubleType,
      s"equality-delete key column ${f.name}: ${f.dataType} cannot be " +
        "an equality-delete identifier (rendered-literal equality is " +
        "width-sensitive across type widens for float/double; " +
        "Iceberg's identifier-field rule) — key on a stable column " +
        "instead"))
    val cols = keys.schema.fieldNames.toSeq
    require(cols.nonEmpty, "equality delete needs at least one key column")
    require(cols.forall(c => !c.contains(",")),
      "equality-delete key column names must not contain commas")
    // Key columns must EXIST in the table schema WITH THE SAME TYPE:
    // the read-side membership test compares rendered NDJSON literals,
    // so a misspelled column (eqKeyOf reads missing keys as null) or a
    // type whose literal differs (DOUBLE '3.0' vs BIGINT '3') would
    // commit a tombstone that silently deletes nothing. Catalog tables
    // persist their schema in _table.json; path-based tables have none
    // to check against (the caller supplied the read schema all along).
    locally {
      val meta = java.nio.file.Paths.get(dir, "_table.json")
      if (java.nio.file.Files.exists(meta)) {
        val tableSchema = GraftCatalog.readMeta(java.nio.file.Paths.get(dir))._1
        keys.schema.fields.foreach { f =>
          // Key names resolve as top-level columns OR dotted nested-leaf
          // paths (round 15 — a CDC stream keyed on a nested id): the
          // read-side membership extracts the leaf from the captured
          // struct raw, so the same rendered-literal contract holds.
          val tf = ManifestStats.fieldAt(tableSchema, f.name).getOrElse(
            throw new IllegalArgumentException(
              s"equality-delete key column '${f.name}' is not in the " +
                s"table schema of $dir (top-level name or dotted " +
                s"struct-leaf path; columns: " +
                s"${tableSchema.fieldNames.mkString(", ")})"))
          // catalogString: same type IGNORING NULLABILITY — rendered
          // literals don't depend on it, and a struct key built from
          // literals routinely differs from the table in nested
          // nullability.
          require(tf.dataType.catalogString == f.dataType.catalogString,
            s"equality-delete key column '${f.name}' is ${f.dataType} but " +
              s"the table column is ${tf.dataType} — their rendered " +
              "literals would never match, silently deleting nothing")
          // The read-side membership test compares PAYLOAD tokens; a
          // pre-ADD row's absent key reads as its EXISTS_DEFAULT in
          // queries but tokenizes as null here — a tombstone keyed on
          // the default value would silently miss those rows.
          require(!tf.metadata.contains(org.apache.spark.sql.catalyst.util
              .ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY),
            s"equality-delete key column '${f.name}' carries an initial " +
              "DEFAULT — rows written before the column existed have no " +
              "payload key to match; delete by a stable key column instead")
          // Minted identity rows store NEGATIVE placeholders: a key
          // match against the user-visible absolute value would
          // silently delete nothing ([[GraftIdentity]]).
          require(!GraftIdentity.of(tableSchema).exists(_.col == f.name),
            s"equality-delete key column '${f.name}' is the table's " +
              "IDENTITY column — minted rows store placeholders that " +
              "never match the user-visible value; use DELETE WHERE " +
              "(row-level), which resolves identities at read")
        }
      }
    }
    val renderers = keys.schema.fields.map(f =>
      NdjsonCodec.renderer(f.dataType))
    val dirPath = Paths.get(dir)
    // The KEY JOB runs BEFORE the lock: materializing the tombstone
    // bytes is a full Spark job (toLocalIterator over `keys`), and a
    // long one under a mtime-frozen lock would eventually look stale
    // to a queued committer — the lock must bracket only the
    // milliseconds of name/move/swap work. The tombstone's semantics
    // don't depend on when the keys were computed: its seq is stamped
    // from the generation read under the lock, and it applies to
    // whatever files turn out to predate it.
    // The key job no longer runs lock-serialized against maintenance:
    // a `keys` plan reading the TARGET table can race a concurrent
    // compaction's post-swap deletes ("vanished between planning and
    // reading") — a transient the locked era couldn't see. Re-running
    // is correct (the tombstone applies to whatever files predate its
    // commit); bound the retries like mergeInto does.
    var attempt = 0
    while (true) {
      // CREATE_NEW: two concurrent tombstone writers drawing the same
      // 8-hex scratch name must fail loudly, not silently interleave
      // their key lines into one file (the lock no longer serializes
      // this phase).
      val tmp = dirPath.resolve(
        s".eqdel-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8,
        java.nio.file.StandardOpenOption.CREATE_NEW)
      var n = 0L
      try {
        try {
          // Internal rows stream one partition at a time — the SAME typed
          // renderers the data writer uses, so key literals compare
          // byte-identical at read. copy() on the executor: UnsafeRow
          // buffers are REUSED per partition, and toLocalIterator
          // materializes a partition at a time — without the copy every
          // key in a partition would alias the last row.
          val it = keys.queryExecution.toRdd.map(_.copy()).toLocalIterator
          while (it.hasNext) {
            val r = it.next()
            val sb = new java.lang.StringBuilder(64)
            sb.append('{')
            var i = 0
            while (i < cols.length) {
              if (i > 0) sb.append(',')
              sb.append('"').append(NdjsonCodec.escape(cols(i))).append("\":")
              sb.append(if (r.isNullAt(i)) "null"
                else renderers(i)(r.get(i, keys.schema.fields(i).dataType)))
              i += 1
            }
            sb.append('}')
            out.write(sb.toString); out.newLine()
            n += 1
          }
        } finally out.close()
        if (n == 0L) { Files.deleteIfExists(tmp); return 0L }
        // A tombstone commit is an append (it applies to files already
        // committed when it lands, whatever those turn out to be) —
        // queue behind a live holder like any append.
        return try ManifestSink.withPublishLock(dirPath,
            acquireWaitMs = ManifestSink.AppendAcquireWaitMs) {
          val gen = ManifestSink.committedGeneration(dir)
          val name = f"eqdel-g${gen + 1}%06d-" +
            java.util.UUID.randomUUID().toString.take(8) + ".ndjson"
          Files.move(tmp, dirPath.resolve(name), StandardCopyOption.ATOMIC_MOVE)
          val txt = ManifestSink.manifestText(dir, ManifestSink.ManifestName)
          val existing = ManifestSink.parseEqDeletes(txt)
          // O(delta) publish: carry segments and inline entries untouched;
          // only the pointer's eqdeletes array grows.
          ManifestSink.publishDelta(dirPath, ManifestSink.segmentRefsFull(txt),
            ManifestSink.parseEntries(txt), Nil, gen + 1, "eqdelete",
            retain || ManifestSink.hasRetainedGenerations(dir),
            eqDeletes = Some(existing :+
              ManifestSink.EqDelete(name, cols, n, gen + 1)))
          n
        } finally Files.deleteIfExists(tmp) // no-op when moved into place
      } catch {
        // Scratch must not leak on ANY failure — the key job is a full
        // Spark computation and can die routinely; vacuum's .eqdel-*.tmp
        // sweep is only the backstop for process death.
        case e: Exception =>
          Files.deleteIfExists(tmp)
          val transientScan = {
            def m(t: Throwable): Boolean = t != null && ((t.getMessage != null &&
              t.getMessage.contains("vanished between planning and reading")) ||
              m(t.getCause))
            m(e)
          }
          if (!transientScan || attempt >= 3) throw e
          attempt += 1
          Thread.sleep(50L + scala.util.Random.nextInt(150))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** OPTIMIZE/cluster (Delta's `OPTIMIZE ZORDER BY` shape): rewrite the
    * table range-partitioned and sorted by `sortCols` into `numFiles`
    * files, in ONE atomic overwrite commit. Sorting is what makes the
    * per-file min/max bounds TIGHT — after clustering by a column,
    * point/range predicates on it prune to O(1) files instead of
    * scanning a random layout where every file's bounds span the whole
    * domain. For multi-column locality pass one interleaved z-value
    * expression (q84's `zorderKey`) as the sort column and the payload
    * columns still get per-file bounds from the writer. The read and
    * the rewrite run in the same Spark job: scan tasks see the current
    * committed files throughout; the swap retires them only at commit.
    * Driver-side compaction (`ManifestSink.compact`) merges small files
    * WITHOUT a Spark job but preserves row order; cluster is the
    * data-moving complement that re-sorts. */
  def cluster(spark: SparkSession, dir: String, schema: StructType,
      sortCols: Seq[org.apache.spark.sql.Column], numFiles: Int,
      writeOptions: Map[String, String] = Map.empty,
      // Plain ascending column names of `sortCols` (when that is what
      // they are): stamps `sorted` on the rewritten files, so scans
      // report the order back (SupportsReportOrdering) and sort-merge
      // consumers skip their sorts. Leave empty for expression sorts
      // (z-order keys) — the bounds tighten either way, only the
      // ordering CLAIM needs plain columns.
      sortByNames: Seq[String] = Nil): Unit = {
    require(sortCols.nonEmpty && numFiles > 0)
    val table = spark.read.format("graft.sources.ManifestSink")
      .schema(schema).option("path", dir).load()
    val w = table.repartitionByRange(numFiles, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .write.format("graft.sources.ManifestSink")
      .option("path", dir).mode("overwrite")
    // The child is already sorted, so the declared write ordering adds
    // no extra sort — it only makes the writer stamp the entries.
    if (sortByNames.nonEmpty) w.option("sortBy", sortByNames.mkString(","))
    writeOptions.foreach { case (k, v) => w.option(k, v) }
    w.save()
  }

  /** OPTIMIZE ZORDER (Delta's `OPTIMIZE ... ZORDER BY`, Iceberg's
    * `rewrite_data_files(strategy => 'sort', sort_order => 'zorder(...)')`)
    * as a real table-maintenance rewrite: normalize each dimension to a
    * bounded bucket, interleave the bucket bits into a Morton code, and
    * rewrite the table range-partitioned and sorted by that code (one
    * atomic overwrite through [[cluster]]). Rows close in ANY dimension
    * land close in the layout, so the rewritten files' min/max boxes —
    * recorded by the ordinary writer stats — make the EXISTING
    * file/block skipping prune multi-dimensional predicates
    * (q182_zorder_layout proves the 2-D skip win as data; this wires
    * the layout into the storage path).
    *
    * Normalization is LINEAR over each column's (min, max) — computed
    * in one aggregate pass, O(dims) driver state. Heavily skewed
    * dimensions degrade locality (not correctness); a rank-based
    * normalization (Delta's range_partition_id) is the upgrade path.
    * Orderable numeric/date/timestamp dimensions only — each must cast
    * to BIGINT losslessly for the bit math. Returns the Morton bit
    * width used per dimension. */
  def zorder(spark: SparkSession, dir: String, schema: StructType,
      zCols: Seq[String], numFiles: Int, bitsPerDim: Int = 8): Int = {
    require(zCols.size >= 2 && zCols.size <= 4,
      s"zorder interleaves 2-4 dimensions, got ${zCols.size}")
    require(numFiles > 0 && bitsPerDim >= 2 && bitsPerDim <= 16)
    import org.apache.spark.sql.functions._
    zCols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"zorder column '$c' is not in the table schema"))
      val ok = f.dataType match {
        case org.apache.spark.sql.types.ByteType |
            org.apache.spark.sql.types.ShortType |
            org.apache.spark.sql.types.IntegerType |
            org.apache.spark.sql.types.LongType |
            org.apache.spark.sql.types.DateType |
            org.apache.spark.sql.types.TimestampType |
            org.apache.spark.sql.types.TimestampNTZType => true
        case _ => false
      }
      require(ok,
        s"zorder column '$c' (${f.dataType}) is not an integral/temporal " +
          "dimension — interleaving needs exact integer bucket math")
    }
    val table = spark.read.format("graft.sources.ManifestSink")
      .schema(schema).option("path", dir).load()
    def asLong(c: String): org.apache.spark.sql.Column =
      col(c).cast("long")
    // One aggregate pass: per-dimension (min, max) — O(dims) driver
    // state, never O(data).
    val aggs = zCols.flatMap(c =>
      Seq(min(asLong(c)).as(s"mn_$c"), max(asLong(c)).as(s"mx_$c")))
    val r = table.agg(aggs.head, aggs.tail: _*).head()
    val buckets = (1L << bitsPerDim) - 1L
    val zExpr = zCols.zipWithIndex.map { case (c, j) =>
      val mn = Option(r.getAs[Any](s"mn_$c")).map(_.toString.toLong)
        .getOrElse(0L)
      val mx = Option(r.getAs[Any](s"mx_$c")).map(_.toString.toLong)
        .getOrElse(0L)
      val span = math.max(1L, mx - mn)
      // bucket in [0, 2^bits): exact integer scaling, null -> bucket 0
      // (nulls cluster together at the layout's origin corner).
      val b = coalesce((asLong(c) - lit(mn)) * lit(buckets) / lit(span),
        lit(0L))
      (0 until bitsPerDim).map(i =>
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)),
          i * zCols.size + j): org.apache.spark.sql.Column)
        .reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
    cluster(spark, dir, schema, Seq(zExpr), numFiles)
    bitsPerDim
  }

  /** VACUUM (Delta's shape): delete data files and staging directories
    * nothing references — the garbage crashed jobs leave behind (a
    * commit that died between staging and publish, an abort that never
    * ran). Conservative on both axes: a file survives if ANY reachable
    * manifest references it (the current generation plus every retained
    * one, resolved leniently — an unreadable retained generation keeps
    * its unknown references by keeping everything aged younger), and
    * regardless of references if it is younger than `olderThanMs` — the
    * age guard that protects a commit IN FLIGHT between its file moves
    * and its manifest swap (the whole sequence runs under the publish
    * lock, which vacuum also holds, so the guard is belt-and-braces the
    * way Delta's retention check is). Returns (data files deleted,
    * staging dirs deleted). */
  def vacuum(dir: String, olderThanMs: Long = 7L * 24 * 3600 * 1000): (Int, Int) = {
    import java.nio.file.{Files, Paths}
    val dirPath = Paths.get(dir)
    ManifestSink.withPublishLock(dirPath) {
      val referenced = ManifestSink.allReachableFileNames(dir)
      val cutoff = System.currentTimeMillis() - olderThanMs
      var dataGone = 0
      var stagingGone = 0
      val ls = Files.list(dirPath)
      var seen = 0
      try {
        val it = ls.iterator()
        while (it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          // BOTH payload kinds orphan the same ways: a crash between
          // staging moves and the manifest swap strands part-*.parquet
          // exactly like part-*.ndjson (the parquet lane predates
          // nothing here — a filter keyed on .ndjson alone would let
          // parquet orphans accumulate unboundedly).
          val dataShaped = (n.endsWith(".ndjson") || n.endsWith(".parquet")) &&
            (n.startsWith("part-") || n.startsWith("compact-"))
          // Sidecars orphan the same ways data files do (a crashed DV
          // or bloom commit, a retired vector under retention later
          // expired); reachability covers them (ownedNames + eqdeletes
          // arrays), so the same age-guarded sweep applies. `.dv-g`
          // matches both kinds' vectors; eqdel tombstones orphan when
          // a crash lands between their rename and publishDelta.
          val dvShaped = n.contains(".dv-g")
          val bloomShaped = n.endsWith(".bloom")
          val eqdelShaped = n.startsWith("eqdel-g") && n.endsWith(".ndjson")
          // Pre-lock tombstone scratch (round 16): written before the
          // publish lock, leaked if the key job dies mid-stream — never
          // referenced by anything, so age alone gates it.
          val eqTmpShaped = n.startsWith(".eqdel-") && n.endsWith(".tmp")
          val old = Files.getLastModifiedTime(p).toMillis < cutoff
          if ((dataShaped || dvShaped || bloomShaped || eqdelShaped) &&
              old && !referenced.contains(n)) {
            Files.deleteIfExists(p)
            dataGone += 1
          } else if (eqTmpShaped && old) {
            Files.deleteIfExists(p)
            stagingGone += 1
          } else if (n.startsWith(".staging-") && Files.isDirectory(p) && old) {
            val walk = Files.walk(p)
            try walk.sorted(java.util.Comparator.reverseOrder())
              .forEach(f => Files.deleteIfExists(f))
            finally walk.close()
            stagingGone += 1
          }
          // A big directory sweep can outlast the lease; heartbeat so
          // queued committers never judge the live vacuum stale and
          // reclaim the lock mid-sweep (the round-16 queueing makes
          // waiters persist long enough to reach that moment).
          seen += 1
          if (seen % 512 == 0) ManifestSink.heartbeatLock(dirPath)
        }
      } finally ls.close()
      (dataGone, stagingGone)
    }
  }

  // ----- BRANCHES (Iceberg-style writable refs, the write-audit-publish
  // fork): a branch is a SIBLING DIRECTORY (`<table>/_branch_<name>`)
  // whose data files are HARD LINKS to the parent's — data files are
  // immutable, so the link shares bytes the way Iceberg branches share
  // files by path — plus its own manifest, lock, and generation
  // counter. Every operation the format supports (appends, merges,
  // deletion vectors, compaction) runs UNCHANGED against the branch
  // directory; the parent never sees any of it until FAST-FORWARD
  // publishes the branch's file set as the parent's next generation in
  // one atomic swap (refused loudly if the parent advanced since the
  // fork — recreate the branch to rebase). Branch dirs are invisible to
  // scans (manifests name files, never directories) and to the GC
  // sweeps (they only match data/segment/sidecar name shapes).

  private[sources] def branchPath(dir: String, name: String): java.nio.file.Path = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_'),
      s"invalid branch name '$name'")
    java.nio.file.Paths.get(dir, s"_branch_$name")
  }

  /** Fork the CURRENT state into a new branch directory. */
  def createBranch(dir: String, name: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dirPath = Paths.get(dir)
    ManifestSink.withPublishLock(dirPath) {
      val bdir = branchPath(dir, name)
      require(!Files.exists(bdir), s"branch '$name' already exists on $dir")
      Files.createDirectories(bdir)
      val entries = ManifestSink.committedEntries(dir)
      // Hard-link every committed data file + DV sidecar: zero-copy
      // sharing of immutable bytes.
      entries.flatMap(ManifestSink.ownedNames).distinct.foreach { n =>
        Files.createLink(bdir.resolve(n), dirPath.resolve(n))
      }
      val base = ManifestSink.committedGeneration(dir)
      // The branch starts at its OWN generation 'base' with the same
      // entries (full single-segment manifest — segment files are
      // branch-local, so no name collisions with the parent's).
      ManifestSink.publishManifest(bdir, entries, base, "branch")
      Files.write(bdir.resolve("_branch.json"),
        s"""{"base":$base}\n""".getBytes("UTF-8"))
    }
  }

  private def branchBase(bdir: java.nio.file.Path): Long = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      bdir.resolve("_branch.json")), "UTF-8")
    NdjsonCodec.parseLine(txt.trim)("base") match {
      case NdjsonCodec.JsonTok(v) => v.toLong
      case other => throw new IllegalStateException(s"bad branch meta: $other")
    }
  }

  /** Publish the branch's current file set as the parent's next
    * generation — ONE atomic swap, refused loudly if the parent
    * advanced past the branch's fork point (optimistic concurrency at
    * ref granularity). Returns the parent's new generation. */
  def fastForward(dir: String, name: String): Long = {
    import java.nio.file.{Files, Paths}
    val dirPath = Paths.get(dir)
    val bdir = branchPath(dir, name)
    require(Files.exists(bdir.resolve("_branch.json")),
      s"no branch '$name' on $dir")
    ManifestSink.withPublishLock(dirPath) {
      val current = ManifestSink.committedGeneration(dir)
      val base = branchBase(bdir)
      require(current == base,
        s"cannot fast-forward branch '$name' of $dir: the parent advanced " +
          s"from generation $base to $current since the fork — recreate " +
          "the branch from the current state to rebase")
      val branchEntries = ManifestSink.committedEntries(bdir.toString)
      val mainEntries = ManifestSink.committedEntries(dir)
      val mainNames = mainEntries.flatMap(ManifestSink.ownedNames).toSet
      // New branch files (appends, merge rewrites, DV sidecars) link
      // into the parent BEFORE the swap — invisible until the manifest
      // names them.
      branchEntries.flatMap(ManifestSink.ownedNames).distinct
        .filterNot(mainNames.contains).foreach { n =>
          if (!Files.exists(dirPath.resolve(n))) {
            Files.createLink(dirPath.resolve(n), bdir.resolve(n))
            // Hard links inherit the inode's branch-era mtime, which
            // can already exceed vacuum's olderThanMs age guard the
            // moment the link lands. Stamp "now" (shared with the
            // branch file — harmless: a newer mtime only delays GC,
            // never admits it) so freshly published files always get
            // the guard's full grace window.
            try Files.setLastModifiedTime(dirPath.resolve(n),
              java.nio.file.attribute.FileTime.fromMillis(
                System.currentTimeMillis))
            catch { case _: java.io.IOException => () }
          }
        }
      val retain = ManifestSink.hasRetainedGenerations(dir)
      ManifestSink.publishManifest(dirPath, branchEntries, current + 1,
        "fastforward", retain)
      ManifestSink.sweepSegments(dirPath)
      // Parent files the branch dropped (deletes/compaction on the
      // branch) retire like any other swap — deferred under retention.
      if (!retain) {
        val kept = branchEntries.flatMap(ManifestSink.ownedNames).toSet
        mainNames.filterNot(kept.contains)
          .foreach(n => Files.deleteIfExists(dirPath.resolve(n)))
      }
      current + 1
    }
  }

  /** Delete a branch directory (its unpublished work included). */
  def dropBranch(dir: String, name: String): Boolean = {
    import java.nio.file.Files
    val bdir = branchPath(dir, name)
    if (!Files.exists(bdir)) return false
    val walk = Files.walk(bdir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    finally walk.close()
    true
  }
}
