package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.sources
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.util.OptionalLong

/** DataSource V2 sink + source — the reference's object-store sink
  * (`rest_api_json_to_gcs_operator.py:64-85` uploads a staged blob to
  * GCS) re-expressed through Spark's two-phase committer protocol, which
  * is what makes a distributed write ATOMIC on storage that has no
  * rename-into-place transaction of its own:
  *
  *  1. each task's [[DataWriter]] writes its partition to a STAGED file
  *     under an attempt-unique name — speculative/retried attempts can
  *     never collide — and describes it in a [[WriterCommitMessage]];
  *  2. the driver's [[BatchWrite.commit]] publishes, in one step, ONLY
  *     the attempts Spark declared winners: staged files move into place
  *     and a `manifest.json` naming the committed files + row counts is
  *     written via temp-file + atomic rename BEFORE any retired file is
  *     deleted — readers resolve the manifest, so they see the whole
  *     job's output or none of it, and a crash mid-publish can only
  *     leave unreferenced garbage (GC'd by the next commit), never a
  *     live manifest pointing at deleted data;
  *  3. [[BatchWrite.abort]] deletes the staging directory — a failed job
  *     leaves the target exactly as it was.
  *
  * The manifest publish (read-compose-swap) is SINGLE-WRITER per target
  * directory, enforced by a create-exclusive `.manifest.lock` held for
  * the critical section: a second concurrent committer fails loudly
  * instead of silently losing the first one's entries to a last-rename-
  * wins race. Each manifest also carries a monotonic `generation`
  * counter, so lost updates are detectable after the fact.
  *
  * The READ side closes the loop ([[SupportsRead]]): a scan plans one
  * `InputPartition` per COMMITTED file — staged or orphaned files are
  * invisible by construction, which makes the atomic-visibility
  * guarantee provable end-to-end (spec `a11_manifest_roundtrip`), with
  * column pruning and manifest-derived exact statistics.
  *
  * Payload format is NDJSON with full JSON string escaping (control
  * characters included — the documents corpus is full of whitespace);
  * binary is base64, date/timestamp are ISO-8601 strings, and nested
  * types are rejected up front at write-builder construction.
  * Local-fs here; the protocol is the part that transfers to GCS/S3.
  *
  * Usage: `df.write.format("graft.sources.ManifestSink")
  *   .option("path", dir).mode("append"|"overwrite").save()`, then
  * `spark.read.format("graft.sources.ManifestSink").schema(s)
  *   .option("path", dir).load()`.
  */
class ManifestSink extends TableProvider {
  // The sink takes whatever schema the written DataFrame has.
  override def supportsExternalMetadata(): Boolean = true

  /** Read-side inference when no schema is supplied: sample up to 100
    * records of the first committed file and type each field from its
    * JSON shape (long / double / boolean / string) — a null in the
    * LEADING row no longer mistypes the column, it just defers to the
    * first non-null observation; long and double observations widen to
    * double. Numeric inference is still lossy by nature (a long column
    * whose sampled values are `1.5`-free infers long) — callers that
    * round-trip typed data supply `.schema(...)` and skip this. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val main = options.get("path")
    if (main == null) return new StructType()
    val path = Option(options.get("branch"))
      .map(b => ManifestOps.branchPath(main, b).toString).getOrElse(main)
    // A catalog-managed directory persists its schema — path-routed
    // reads of such tables use it verbatim (exact types, no sampling;
    // also the only authority for parquet-kind tables).
    try {
      if (Files.exists(Paths.get(path, "_table.json")))
        return GraftCatalog.readMeta(Paths.get(path))._1
    } catch { case _: Exception => () }
    val entries = ManifestSink.committedEntries(path)
    if (entries.isEmpty) return new StructType()
    // Parquet-kind entries carry their schema in their own footer.
    entries.find(e => GraftParquet.isParquet(e.name)).foreach { e =>
      return GraftParquet.footerSchema(
        Paths.get(path, e.name).toString)
    }
    // Sample up to 100 lines ACROSS entries (a multi-task write of a
    // small frame routinely commits empty files first — sampling only
    // the head entry inferred an empty schema for a non-empty table).
    // Decompress per each entry's recorded codec — inference must see
    // payload text, not frame bytes.
    val lines = entries.iterator.flatMap { entry =>
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        ManifestSink.wrapRead(
          Files.newInputStream(Paths.get(path, entry.name)), entry.codec),
        StandardCharsets.UTF_8))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty).take(100).toVector
      finally in.close()
    }.take(100).toVector
    // First-appearance key order; value None = only nulls seen so far.
    // Recursive so nested objects infer as StructType and arrays as
    // ArrayType of their merged element type (heterogeneous elements
    // widen to STRING spellings; an always-empty array defers like a
    // null and falls back to StringType-typed raw — supplying
    // .schema() is the typed route either way). Maps infer as structs
    // (JSON cannot distinguish them); declare MapType via the schema.
    def widen(a: DataType, b: DataType): DataType =
      if (a == b) a
      else (a, b) match {
        case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
        case (ArrayType(x, _), ArrayType(y, _)) => ArrayType(widen(x, y))
        case _ => StringType
      }
    def inferOne(v: NdjsonCodec.JsonVal): Option[DataType] = v match {
      case NdjsonCodec.JsonNull => None
      case NdjsonCodec.JsonTok(raw) =>
        Some(if (raw == "true" || raw == "false") BooleanType
        else if (raw.forall(c => c.isDigit || c == '-')) LongType
        else DoubleType)
      case NdjsonCodec.JsonRaw(raw) if raw.nonEmpty && raw.charAt(0) == '{' =>
        val inner = collection.mutable.LinkedHashMap[String, Option[DataType]]()
        NdjsonCodec.parseLine(raw).foreach { case (k, nv) =>
          merge(inner, k, inferOne(nv))
        }
        Some(StructType(inner.toSeq.map { case (k, t) =>
          StructField(k, t.getOrElse(StringType))
        }))
      case NdjsonCodec.JsonRaw(raw) if raw.nonEmpty && raw.charAt(0) == '[' =>
        NdjsonCodec.parseArray(raw).flatMap(inferOne)
          .reduceOption(widen).map(ArrayType(_))
      case _ => Some(StringType)
    }
    def merge(into: collection.mutable.LinkedHashMap[String, Option[DataType]],
        k: String, t: Option[DataType]): Unit =
      (into.get(k), t) match {
        case (None, _) | (Some(None), _) => into(k) = t
        case (Some(Some(prev)), Some(nt)) if nt != prev =>
          into(k) = Some(widen(prev, nt))
        case _ =>
      }
    val seen = collection.mutable.LinkedHashMap[String, Option[DataType]]()
    lines.foreach { line =>
      NdjsonCodec.parseLine(line).foreach { case (k, v) =>
        merge(seen, k, inferOne(v))
      }
    }
    StructType(seen.toSeq.map { case (k, t) =>
      StructField(k, t.getOrElse(StringType))
    })
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val mainPath = opts.get("path")
    require(mainPath != null, "ManifestSink requires a 'path' option")
    // branch=<name> redirects the WHOLE table (reads, writes, DML,
    // streaming) at the branch's directory — every operation the
    // format supports runs unchanged against the fork.
    val path = Option(opts.get("branch"))
      .map(b => ManifestOps.branchPath(mainPath, b).toString)
      .getOrElse(mainPath)
    val version = Option(opts.get("versionasof")).map(_.toLong)
      .orElse(Option(opts.get("tagasof")).map(t =>
        ManifestSink.readTags(path).getOrElse(t,
          throw new IllegalArgumentException(
            s"$path has no tag '$t'; tags: " +
              ManifestSink.readTags(path).keys.toSeq.sorted.mkString(", ")))))
    // `df.write.partitionBy(...)` / catalog `PARTITIONED BY` arrive as
    // transforms; identity and bucket are meaningful for this format.
    val partCols = partitioning.toSeq.map {
      case t if t.name == "identity" =>
        t.references()(0).fieldNames().mkString(".")
      case t if t.name == "bucket" =>
        val n = t.arguments().collectFirst {
          case lit: org.apache.spark.sql.connector.expressions.Literal[_] =>
            lit.value().toString.toInt
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform without a bucket count: $t"))
        s"bucket($n,${t.references()(0).fieldNames().mkString(".")})"
      case t => throw new IllegalArgumentException(
        s"ManifestSink supports identity and bucket partition transforms, got $t")
    }
    // The ONLY write option that must behave like a table property on a
    // path table: `mergeschema` flips the ACCEPT_ANY_SCHEMA capability,
    // which Spark's ANALYZER consults — by the time newWriteBuilder
    // runs, the schema either was or was not validated.
    val props = Option(opts.get("mergeschema"))
      .map(v => Map("mergeschema" -> v)).getOrElse(Map.empty[String, String])
    new ManifestTable(path, schema, version, partCols, props)
  }
}

object ManifestSink {
  val ManifestName = "manifest.json"
  private[sources] val LockName = ".manifest.lock"

  /** CROSS-TABLE TRANSACTION metadata (see [[GraftTxn]]): a write with
    * the `txnStage=<id>` option publishes its pointer to
    * [[txnStagedPointerName]] instead of [[ManifestName]] (invisible —
    * nothing changed for readers), and `GraftTxn.commitAll` later makes
    * EVERY staged table visible at one commit point: it drops a
    * [[TxnMarkerName]] file in each table dir, then atomically creates
    * ONE shared journal file — the commit point — then swaps the
    * pointers. A reader that finds a marker whose journal exists serves
    * the staged pointer (virtual roll-forward — no torn cross-table
    * state is ever observable); a writer acquiring the publish lock
    * completes or aborts the pending swap physically first. */
  private[sources] val TxnMarkerName = "_txn_pending.json"
  private[sources] def txnStagedPointerName(id: String): String =
    s"_manifest.txn-$id.json"

  /** Serve the pending-transaction state of a table dir, if any:
    * Some(stagedText) when a committed-journal txn's pointer swap has
    * not physically happened yet — the reader-side roll-forward.
    * None = no marker, an aborted txn (journal never created), or a
    * swap that already completed (staged file gone). */
  private[sources] def pendingTxnText(dir: String): Option[String] = {
    val marker = Paths.get(dir, TxnMarkerName)
    if (!Files.exists(marker)) return None
    try {
      val m = NdjsonCodec.parseLine(
        new String(Files.readAllBytes(marker), StandardCharsets.UTF_8))
      for {
        NdjsonCodec.JsonStr(staged) <- m.get("staged")
        NdjsonCodec.JsonStr(journal) <- m.get("journal")
        if Files.exists(Paths.get(journal))
        sp = Paths.get(dir, staged)
        if Files.exists(sp)
      } yield new String(Files.readAllBytes(sp), StandardCharsets.UTF_8)
    } catch { case _: java.io.IOException => None }
  }

  /** Physically complete (journal exists) or abort (journal missing —
    * the txn never reached its commit point) a pending cross-table
    * transaction on `dir`. Runs at publish-lock acquisition, so every
    * committer builds on the resolved state and a later normal commit
    * can never be clobbered by a stale staged swap, and is also
    * `GraftTxn.commitAll`'s own physical swap. Idempotent. */
  private[sources] def resolvePendingTxn(dir: Path): Unit = {
    val marker = dir.resolve(TxnMarkerName)
    if (!Files.exists(marker)) return
    val m =
      try NdjsonCodec.parseLine(
        new String(Files.readAllBytes(marker), StandardCharsets.UTF_8))
      catch { case _: java.io.IOException => return }
    (m.get("staged"), m.get("journal")) match {
      case (Some(NdjsonCodec.JsonStr(staged)),
          Some(NdjsonCodec.JsonStr(journal))) =>
        val sp = dir.resolve(staged)
        if (Files.exists(Paths.get(journal))) {
          // Roll FORWARD: the txn committed; finish this table's swap.
          var swappedGen: Option[Long] = None
          if (Files.exists(sp)) {
            val txt = new String(Files.readAllBytes(sp),
              StandardCharsets.UTF_8)
            swappedGen = "\"generation\":(\\d+)".r.findFirstMatchIn(txt)
              .map(_.group(1).toLong)
            if (txt.contains("\"txnRetain\":true"))
              swappedGen.foreach(g =>
                Publish.replace(dir.resolve(generationManifestName(g)))(
                  Files.write(_, txt.getBytes(StandardCharsets.UTF_8))))
            Publish.move(sp, dir.resolve(ManifestName))
          }
          Files.deleteIfExists(marker)
          // The pointer just changed underneath any cached version():
          // record the swapped-in generation (same contract as
          // writePointer's live-swap update).
          swappedGen.foreach(noteCommittedGeneration(dir, _))
        } else {
          // Roll BACK: no journal means the txn died before its commit
          // point — discard the staged pointer (its data files become
          // orphans; compaction/vacuum collect them).
          Files.deleteIfExists(sp)
          Files.deleteIfExists(marker)
        }
      case _ => Files.deleteIfExists(marker) // unparseable: inert debris
    }
  }

  /** Metadata column naming the committed data file a row lives in
    * (Iceberg's `_file`): what row-level operations group by — a
    * "group" in the copy-on-write rewrite IS a file — and what the
    * runtime group filter joins on. Served by the reader as a
    * partition constant; never stored in the payload. */
  private[sources] val FileColumn = "_file"

  /** Metadata column: byte offset of the row's FIRST byte within its
    * committed file (Iceberg's `_pos` in byte- rather than ordinal-
    * space — byte offsets survive split reads, where a range reader
    * never knows its starting row ordinal but always knows its byte
    * position). `(_file, _pos)` is a stable row identity, which is
    * exactly what a positional deletion vector records. */
  private[sources] val PosColumn = "_pos"

  /** All on-disk names an entry owns: its data file plus its deletion-
    * vector sidecar, if any — every GC / reachability walk must treat
    * them as one unit or expiring a snapshot strands (or worse,
    * deletes early) the sidecar its reads depend on. */
  private[sources] def ownedNames(e: StagedFile): Seq[String] =
    e.name +: (e.dv.toSeq ++ e.bloomName.toSeq)

  /** The table's bloom-indexed columns restricted to what a given
    * write schema can actually index — the DML/rewrite paths use this
    * (silently conservative) instead of the main write path's loud
    * validation: a row-level rewrite must not start failing because a
    * later ALTER TABLE made the property stale. */
  private[sources] def bloomColsOf(props: Map[String, String],
      schema: StructType): Seq[String] =
    props.get("bloomcolumns").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      .filter(c => ManifestStats.fieldAt(schema, c)
        .exists(f => BloomIndex.supported(f.dataType)))

  /** Sub-file block-stat granularity in bytes (table property
    * `blockbytes`; 0 disables). Writers close a stats block at the
    * first line boundary past this many bytes — see
    * [[StagedFile.blocks]]. */
  private[sources] val DefaultBlockBytes: Long = 16L * 1024 * 1024
  /** Entry-size backstop: past this many closed blocks the final block
    * swallows the file's remainder (a 100 GB file must not ride
    * thousands of bound sets in one manifest entry). */
  private[sources] val MaxBlocksPerFile = 512

  /** Data-file compression codec (table property `codec`: `none` |
    * `gzip` | `zstd`). At 100 TB the corpus is storage- and
    * scan-I/O-bound and NDJSON text deflates 5-10x, so the wrap points
    * are chosen to keep every LOGICAL byte offset (deletion vectors,
    * `_pos`, row identity) counted on the UNCOMPRESSED stream: the
    * writer counts above its compression layer, the reader counts
    * below its decompression layer, and the two always agree.
    * Compressed files are never byte-range-split (no seeking into a
    * compressed stream) — file sizing via partitioning/auto-compaction
    * is the parallelism knob, the same discipline as compressed text
    * on any engine. Gzip members and zstd frames both CONCATENATE, so
    * concat compaction still streams raw bytes codec-to-same-codec.
    * zstd rides the zstd-jni Spark itself ships (faster and tighter
    * than gzip — the production default for new tables). */
  private[sources] def codecOf(props: Map[String, String]): String =
    props.get("codec").map(_.trim.toLowerCase).filter(_ != "none")
      .map { c =>
        require(c == "gzip" || c == "zstd",
          s"unsupported codec '$c' (none | gzip | zstd)")
        c
      }.getOrElse("")

  /** Decompression wrap for one data file's raw stream ("" = pass
    * through). zstd reads CONTINUOUS (multi-frame) — concat-compacted
    * files are frame sequences. */
  private[sources] def wrapRead(raw: java.io.InputStream,
      codec: String): java.io.InputStream = codec match {
    case "gzip" => new java.util.zip.GZIPInputStream(raw, 1 << 16)
    case "zstd" =>
      val z = new com.github.luben.zstd.ZstdInputStream(raw)
      z.setContinuous(true)
      z
    case _ => raw
  }

  /** The table's configured codec, from `_table.json` on whichever JVM
    * is writing; path-only tables write plain. */
  private[sources] def codecAt(dir: String): String =
    GraftCatalog.metaIfPresent(dir).fold("")(m => codecOf(m._3))

  /** The table's configured data-file kind ("" = ndjson, "parquet" =
    * the columnar lane), from `_table.json` on whichever JVM is
    * writing; path-only tables write NDJSON. */
  private[sources] def filekindAt(dir: String): String =
    GraftCatalog.metaIfPresent(dir).fold("")(_._3.get("filekind")
      .map(_.trim.toLowerCase).filter(_ == "parquet").getOrElse(""))

  // (manifest mtime-nanos, manifest size, txn-marker mtime-nanos) ->
  // generation. Not a [[StatCache]]: the fingerprint spans two files,
  // entries merge monotonically, and the commit side writes into it
  // ([[noteCommittedGeneration]]). Spark 4.1's QueryExecution/
  // CacheManager consult Table.version() on EVERY execution of a plan
  // that references the table (V2TableRefreshUtil), so an uncached
  // version() re-read the whole manifest per query — measured ~2x wall
  // on the manifest spec family. The fingerprint stats are O(1); any commit rewrites the
  // manifest (new staged file + rename: fresh mtime, and appends grow
  // the size), and cross-table txn visibility flips with the marker
  // file, so a stale hit can only serve an OLDER generation for one
  // clock tick — the same read-skew any reader racing a commit already
  // has, and fail-safe for the AddConstraint version check (a stale
  // version makes the ALTER re-validate, never skip validation).
  private val generationCache = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long, Long), Long)]()

  private def generationKey(dir: String): String =
    try Paths.get(dir).toAbsolutePath.normalize.toString
    catch { case _: Exception => dir }

  private def generationFp(dir: String): (Long, Long, Long) = {
    val m = Paths.get(dir, ManifestName)
    val marker = Paths.get(dir, TxnMarkerName)
    (if (Files.exists(m)) Files.getLastModifiedTime(m).to(
      java.util.concurrent.TimeUnit.NANOSECONDS) else -1L,
      if (Files.exists(m)) Files.size(m) else -1L,
      if (Files.exists(marker)) Files.getLastModifiedTime(marker).to(
        java.util.concurrent.TimeUnit.NANOSECONDS) else -1L)
  }

  // Never let a racing reader's re-read regress the generation recorded
  // for an IDENTICAL fingerprint (generations are monotone per table; a
  // dropped-and-recreated table gets a fresh fingerprint, so the
  // different-fp branch trusts the latest stat).
  private def generationMerge(dir: String,
      fp: (Long, Long, Long), gen: Long): Unit =
    generationCache.merge(dir, (fp, gen),
      (old, nw) => if (old._1 == nw._1 && old._2 > nw._2) old else nw)

  /** Commit-side cache update (the lock-held publish path): the new
    * generation is KNOWN here, so record it directly. This closes the
    * same-JVM read-your-writes hole a pure stat fingerprint has — a
    * manifest rewrite that keeps the byte size and lands within one
    * mtime clock tick is invisible to stats, and version() would keep
    * serving the old generation to the committer itself. The stat
    * fingerprint stays as the cross-process staleness guard. */
  private[sources] def noteCommittedGeneration(dir: Path, gen: Long): Unit =
    try generationMerge(generationKey(dir.toString),
      generationFp(dir.toString), gen)
    catch { case _: Exception => generationCache.remove(generationKey(dir.toString)) }

  /** [[committedGeneration]] behind a stat-only fingerprint check — the
    * per-query-execution path ([[ManifestTable.version]]). */
  private[sources] def cachedGeneration(dir: String): Long = {
    try {
      val key = generationKey(dir)
      val fp = generationFp(dir)
      val hit = generationCache.get(key)
      if (hit != null && hit._1 == fp) return hit._2
      val out = committedGeneration(dir)
      generationMerge(key, fp, out)
      // Serve what the cache settled on (the merge may have kept a
      // same-fp higher generation recorded by the committer).
      val settled = generationCache.get(key)
      if (settled != null && settled._1 == fp) settled._2 else out
    } catch { case _: Exception => committedGeneration(dir) }
  }

  /** The table's IDENTITY spec, from `_table.json` field metadata
    * (writers on executors and committers on the driver both ask).
    * None for path tables — identity is a catalog-table feature. */
  private[sources] def identityAt(dir: String): Option[GraftIdentity.Spec] =
    GraftCatalog.metaIfPresent(dir).flatMap(m => GraftIdentity.of(m._1))

  /** The table's configured block granularity, from `_table.json`;
    * path-only tables use the default. */
  private[sources] def blockBytesAt(dir: String): Long =
    GraftCatalog.metaIfPresent(dir).flatMap(_._3.get("blockbytes"))
      .map(_.trim.toLong) match {
      case Some(v) if v <= 0 => 0L // disabled
      case Some(v) => math.max(v, 1024L) // floor: pathological tiny blocks
      case None => DefaultBlockBytes
    }

  /** Deletion-vector sidecar format: one decimal byte offset per line,
    * ascending — trivially mergeable, human-debuggable, and line-framed
    * like everything else in this format. Sidecars are IMMUTABLE: a
    * further delete on the same file writes a NEW cumulative sidecar
    * (named by the committing generation) and retires the old one, so
    * retained snapshots keep reading the vector they were committed
    * with. */
  private[sources] def dvSidecarName(dataFile: String, gen: Long): String =
    f"$dataFile%s.dv-g$gen%06d"

  private[sources] def readDvOffsets(dir: String, sidecar: String): Array[Long] = {
    val p = Paths.get(dir, sidecar)
    val lines = Files.readAllLines(p, StandardCharsets.UTF_8)
    val out = new Array[Long](lines.size)
    var i = 0
    val it = lines.iterator()
    while (it.hasNext) {
      val l = it.next().trim
      if (l.nonEmpty) { out(i) = l.toLong; i += 1 }
    }
    if (i == out.length) out else java.util.Arrays.copyOf(out, i)
  }

  /** Published like every other file of this format ([[Publish]]): a
    * crash mid-write leaves no half-sidecar a manifest could name. */
  private[sources] def writeDvSidecar(dir: Path, name: String,
      offsets: Array[Long]): Unit = {
    val sb = new java.lang.StringBuilder(offsets.length * 12)
    offsets.foreach { o => sb.append(o); sb.append('\n') }
    Publish.replace(dir.resolve(name))(
      Files.write(_, sb.toString.getBytes(StandardCharsets.UTF_8)))
  }

  /** Moves a commit's winning files out of `staging` into `dir`, each
    * bloom sidecar before its data file (a staged DV never exists on
    * these paths — vectors commit elsewhere). Callers run this BEFORE
    * the manifest swap: the files stay invisible until the manifest
    * names them, and are orphaned (swept by vacuum) on a crash. */
  private[sources] def publishStaged(staging: Path, dir: Path,
      winners: Iterable[StagedFile]): Unit =
    winners.foreach { f =>
      f.bloomName.foreach(n => Publish.move(staging.resolve(n), dir.resolve(n)))
      Publish.move(staging.resolve(f.name), dir.resolve(f.name))
    }

  /** Both writers' commit-time index build off their hash buffers: a
    * bloom filter per column (m sized from the real key count),
    * published as the staged data file's canonical sidecar — a zombie
    * attempt's own temporary sibling can never clobber it half-written
    * — plus a KMV distinct-count sketch per column (k smallest DISTINCT
    * packed hashes, unsigned order). A buffer that is empty or past its
    * cap yields neither. Returns the indexed columns and the sketches. */
  private[sources] def publishBlooms(staging: Path, name: String,
      cols: Seq[String], bufs: Array[HashBuf])
      : (Seq[String], Map[String, Seq[Long]]) = {
    val live = cols.indices.filter(b => bufs(b).alive && bufs(b).n > 0)
    val blooms = live.flatMap(b =>
      BloomIndex.build(bufs(b).a, bufs(b).n).map(cols(b) -> _))
    if (blooms.nonEmpty)
      Publish.replace(staging.resolve(BloomIndex.sidecarName(name)))(
        Files.write(_, BloomIndex.renderSidecar(blooms)
          .getBytes(StandardCharsets.UTF_8)))
    (blooms.map(_._1), live.map(b => cols(b) ->
      bufs(b).a.take(bufs(b).n).toSeq.distinct
        .sorted(UnsignedLongOrdering).take(KmvK)).toMap)
  }

  /** Candidate PAYLOAD spellings of a top-level name under renames, in
    * both directions: the recorded spelling itself, its historic keys
    * (a current name against pre-rename lines), and any current name
    * whose history contains it (a historic spelling — e.g. a tombstone
    * recorded before the rename — against post-rename lines). At most
    * one candidate appears per line. */
  private def nameCandidates(name: String,
      aliases: Map[String, Seq[String]]): Seq[String] =
    (name +: aliases.getOrElse(name, Nil)) ++
      aliases.collect { case (cur, hist) if hist.contains(name) => cur }

  /** LEAF value of a dotted path from a parsed line: resolve the head
    * through the rename candidates, then re-parse captured nested raws
    * segment by segment (the struct converter's walk, value-only). */
  private[sources] def leafJsonVal(
      m: collection.Map[String, NdjsonCodec.JsonVal], path: String,
      aliases: Map[String, Seq[String]]): Option[NdjsonCodec.JsonVal] = {
    val segs = path.split('.')
    if (segs.length < 2) return None
    var cur: Option[NdjsonCodec.JsonVal] =
      nameCandidates(segs.head, aliases).iterator.flatMap(m.get).nextOption()
    var i = 1
    while (i < segs.length && cur.isDefined) {
      cur = cur.get match {
        case NdjsonCodec.JsonRaw(raw) if raw.nonEmpty && raw.charAt(0) == '{' =>
          NdjsonCodec.parseLine(raw).get(segs(i))
        case _ => None
      }
      i += 1
    }
    cur
  }

  private[sources] def eqKeyOf(m: collection.Map[String, NdjsonCodec.JsonVal],
      cols: Seq[String],
      // current column name -> historic payload-key candidates
      // ([[SchemaEvolution.aliases]]): lines written before a RENAME
      // carry the old key, and at most one candidate appears per line
      // (retired names are never re-added).
      aliases: Map[String, Seq[String]] = Map.empty): String =
    cols.map { c =>
      val v = m.get(c).orElse(
        aliases.getOrElse(c, Nil).iterator.flatMap(m.get(_)).nextOption())
        // Dotted key = a nested LEAF (round 15 — a CDC stream keyed on
        // a nested id): extract through the captured raw structs. The
        // tombstone file's own lines carry the dotted spelling as a
        // literal top-level key (the write builder refuses dots in
        // DATA column names, so the spelling is unambiguous).
        .orElse(if (c.indexOf('.') > 0) leafJsonVal(m, c, aliases) else None)
      val seg = v match {
        case Some(NdjsonCodec.JsonStr(s)) => "s:" + s
        case Some(NdjsonCodec.JsonTok(t)) => "t:" + t
        // A struct key column: both sides rendered by the same typed
        // writer, so the raw text is canonical per value.
        case Some(NdjsonCodec.JsonRaw(r)) => "r:" + r
        case _ => "n"
      }
      // Length-prefixed join: prefix-free, so no value content can
      // fake a column boundary.
      seg.length.toString + ":" + seg
    }.mkString(",")

  /** Executor-level cache of parsed equality-delete key sets, one
    * variant per (key columns, alias sets). Without it a 1000-split scan
    * re-reads and re-parses every applicable tombstone file once PER
    * SPLIT; with it, once per executor. The sets are immutable after
    * construction, so sharing across reader threads is safe. */
  private val eqKeySetCache = new StatCache[java.util.HashSet[String]](soft = true)

  /** Diagnostic: how many PHYSICAL loads (cache misses) ran in this
    * JVM — what the ScaleProbe eqsplit lane measures flat. Public to
    * `graft` so the probe can read it; not a user API. */
  private[graft] val eqKeySetLoads = eqKeySetCache.loads

  /** Load an equality-delete file's key set (small by contract: a
    * tombstone batch, never a data file), through the executor cache. */
  private[sources] def eqKeySet(dir: String, name: String,
      cols: Seq[String],
      aliases: Map[String, Seq[String]] = Map.empty)
      : java.util.HashSet[String] = {
    val p = Paths.get(dir, name)
    // The alias sets participate in the parse (a tombstone file written
    // before a RENAME carries vintage keys), so they key the cache too:
    // a post-rename scan must not serve a pre-rename parse.
    val akey = cols.flatMap(c => aliases.getOrElse(c, Nil)).mkString("|")
    eqKeySetCache.get(p, cols.mkString(",") + "#" + akey) {
      val set = new java.util.HashSet[String]()
      Files.readAllLines(p, StandardCharsets.UTF_8)
        .forEach { ln =>
          if (ln.nonEmpty)
            set.add(eqKeyOf(NdjsonCodec.parseLine(ln), cols, aliases))
        }
      set
    }
  }

  /** Stream-copy live lines applying BOTH delete shapes: positional
    * offsets (`dead`, sorted) and equality-key filters — how compaction
    * materializes a file's pending deletes exactly once. Returns the
    * number of lines written (exact live count for the merged entry). */
  private[sources] def copyLiveLinesFiltered(src: Path, dead: Array[Long],
      eqFilters: Seq[(Seq[String], java.util.HashSet[String])],
      out: java.io.OutputStream,
      aliases: Map[String, Seq[String]] = Map.empty,
      srcCodec: String = ""): Long = {
    // Decompress below the offset counter: DV offsets are logical.
    val in = new java.io.BufferedInputStream(
      wrapRead(Files.newInputStream(src), srcCodec), 1 << 16)
    var kept = 0L
    try {
      var offset = 0L
      var b = in.read()
      while (b != -1) {
        val posLive = java.util.Arrays.binarySearch(dead, offset) < 0
        val buf = new java.io.ByteArrayOutputStream(128)
        var c = b
        while (c != -1 && c != '\n') { buf.write(c); offset += 1; c = in.read() }
        if (c == '\n') offset += 1
        val line = buf.toByteArray
        val keep = posLive && (eqFilters.isEmpty || {
          val parsed = NdjsonCodec.parseLine(
            new String(line, StandardCharsets.UTF_8))
          !eqFilters.exists { case (cols, keys) =>
            keys.contains(eqKeyOf(parsed, cols, aliases))
          }
        })
        if (keep && line.nonEmpty) {
          out.write(line); out.write('\n'); kept += 1
        }
        b = in.read()
      }
    } finally in.close()
    kept
  }

  /** Live lines of one file (positional offsets + equality filters
    * applied), materialized — the SORTED-MERGE compaction path needs
    * random access for the key sort; bin-packed groups are bounded by
    * `targetRows`, so the whole group fits comfortably in driver
    * memory (the concat path stays streaming). */
  private[sources] def collectLiveLines(src: Path, dead: Array[Long],
      eqFilters: Seq[(Seq[String], java.util.HashSet[String])],
      aliases: Map[String, Seq[String]] = Map.empty,
      srcCodec: String = "")
      : Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    val in = new java.io.BufferedInputStream(
      wrapRead(Files.newInputStream(src), srcCodec), 1 << 16)
    try {
      var offset = 0L
      var b = in.read()
      while (b != -1) {
        val posLive = java.util.Arrays.binarySearch(dead, offset) < 0
        val buf = new java.io.ByteArrayOutputStream(128)
        var c = b
        while (c != -1 && c != '\n') { buf.write(c); offset += 1; c = in.read() }
        if (c == '\n') offset += 1
        val line = buf.toByteArray
        val keep = posLive && line.nonEmpty && (eqFilters.isEmpty || {
          val parsed = NdjsonCodec.parseLine(
            new String(line, StandardCharsets.UTF_8))
          !eqFilters.exists { case (cols, keys) =>
            keys.contains(eqKeyOf(parsed, cols, aliases))
          }
        })
        if (keep) out += line
        b = in.read()
      }
    } finally in.close()
    out.result()
  }

  /** One line's sort-key tuple for the given columns, in Spark's
    * ascending-nulls-first order: null sorts first, numeric tokens
    * compare as exact decimals, strings as UTF-8 bytes (UTF8String —
    * Spark's own binary string order, NOT java.lang.String's UTF-16
    * order, which diverges above the BMP). The typed writer never
    * mixes token kinds within one column, so the number-before-string
    * rank is only a tiebreak that cannot fire on real data. */
  private[sources] def lineSortKey(line: Array[Byte], cols: Seq[String],
      aliases: Map[String, Seq[String]] = Map.empty)
      : Seq[(Int, Any)] = {
    val m = NdjsonCodec.parseLine(new String(line, StandardCharsets.UTF_8))
    cols.map { c =>
      m.get(c).orElse(
          aliases.getOrElse(c, Nil).iterator.flatMap(m.get(_)).nextOption()) match {
        case None | Some(NdjsonCodec.JsonNull) => (0, null)
        case Some(NdjsonCodec.JsonTok(t)) =>
          try (1, new java.math.BigDecimal(t): Any)
          catch { case _: NumberFormatException =>
            (2, org.apache.spark.unsafe.types.UTF8String.fromString(t): Any) }
        case Some(NdjsonCodec.JsonStr(s)) =>
          (2, org.apache.spark.unsafe.types.UTF8String.fromString(s): Any)
      }
    }
  }

  private[sources] val lineKeyOrdering: Ordering[Seq[(Int, Any)]] =
    new Ordering[Seq[(Int, Any)]] {
      def compare(a: Seq[(Int, Any)], b: Seq[(Int, Any)]): Int = {
        var i = 0
        while (i < a.length && i < b.length) {
          val ((ra, va), (rb, vb)) = (a(i), b(i))
          val c =
            if (ra != rb) Integer.compare(ra, rb)
            else (va, vb) match {
              case (null, null) => 0
              case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
                x.compareTo(y)
              case (x: org.apache.spark.unsafe.types.UTF8String,
                  y: org.apache.spark.unsafe.types.UTF8String) =>
                x.compareTo(y)
              case _ => 0
            }
          if (c != 0) return c
          i += 1
        }
        0
      }
    }

  /** Default bound on manifest SEGMENTS before an append commit
    * collapses them into one (Iceberg's `min-count-to-merge` trade):
    * append commits write O(delta) bytes, and every `MaxSegments`-th
    * commit pays one O(total) rewrite — amortized O(total/MaxSegments)
    * per commit instead of O(total) every commit. */
  private[sources] val DefaultMaxSegments = 32

  /** Committed (file, rows, per-column stats) entries per the
    * manifest — the manifest is self-describing, so a commit composes
    * the next manifest from these instead of re-counting every prior
    * file's lines (which would cost O(total corpus) per commit — per
    * EPOCH on the streaming path). Each entry is a FLAT JSON object
    * (`min.<col>` / `max.<col>` keys carry the file's column bounds),
    * so the NDJSON codec parses it; entries never nest.
    *
    * TWO-LEVEL manifest (round 10, the manifest-list layer): the
    * pointer `manifest.json` is tiny — `{"generation":g,"segments":
    * ["seg-g000007.json",...]}` — and the entries live in IMMUTABLE
    * segment files (`{"files":[...]}`), so an append commit writes one
    * new segment plus the pointer (O(delta)) instead of re-rendering
    * every entry (O(table)). Legacy single-file manifests (inline
    * `"files"` array, no `"segments"`) stay fully readable. */
  private[sources] def committedEntries(dir: String): Seq[StagedFile] =
    resolveEntries(dir, manifestText(dir, ManifestName))

  /** EQUALITY DELETE (Iceberg's equality-delete files — the streaming-
    * CDC delete shape): a small NDJSON file of KEY TUPLES, recorded in
    * the pointer's `eqdeletes` array, applied at READ time — "delete
    * where user_id IN (file)" as data. The write is O(tombstones) with
    * ZERO target scan (positional DVs must first scan to find
    * (_file,_pos); a CDC tombstone burst cannot afford that).
    * `seq` is the generation the delete committed at; it applies to
    * exactly the data files whose own `seq` (stamped at commit,
    * legacy = 0) is SMALLER — so a same-batch or later upsert's
    * re-inserted rows survive their own key's tombstone (Iceberg's
    * data-sequence-number rule). Compaction materializes applicable
    * deletes into merged files and retires entries no remaining file
    * predates. `cols` is comma-join-encoded (flat key columns only). */
  private[sources] final case class EqDelete(name: String, cols: Seq[String],
      rows: Long, seq: Long)

  /** KMV sketch size (k smallest distinct hashes per indexed column). */
  private[sources] val KmvK = 64

  /** KMV fold: union the minima, keep the k smallest distinct. */
  private[sources] def mergeKmv(sketches: Seq[Map[String, Seq[Long]]])
      : Map[String, Seq[Long]] =
    if (sketches.isEmpty) Map.empty
    else sketches.flatMap(_.keys).distinct.flatMap { c =>
      // A member file LACKING the sketch makes the union unknowable.
      if (!sketches.forall(_.contains(c))) None
      else Some(c -> sketches.flatMap(_(c)).distinct
        .sorted(UnsignedLongOrdering).take(KmvK))
    }.toMap

  private[sources] object UnsignedLongOrdering extends Ordering[Long] {
    def compare(a: Long, b: Long): Int =
      java.lang.Long.compareUnsigned(a, b)
  }

  /** Numeric projection of a column's CATALYST stat values for
    * histogram building — the types Catalyst's own histograms cover
    * (numeric, date, timestamp). None = no histogram for this type. */
  private[sources] def statDouble(dt: DataType): Option[Any => Double] =
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType =>
        Some(v => v.asInstanceOf[Number].doubleValue)
      case FloatType | DoubleType =>
        Some(v => v.asInstanceOf[Number].doubleValue)
      case _: DecimalType =>
        Some(v => v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble)
      case _ => None
    }

  /** EQUI-HEIGHT HISTOGRAM from the manifest's existing (lo, hi, rows)
    * bound triples — per sub-file BLOCK when recorded, per file
    * otherwise — so the CBO gets a VALUE DISTRIBUTION without any new
    * write-path machinery. Density model: each triple spreads its rows
    * uniformly over [lo, hi] (a point mass at lo == hi); boundaries are
    * solved on the summed CDF by bisection so every bin holds ~equal
    * mass. On a sorted table the triples are disjoint and the histogram
    * is essentially exact; on interleaved layouts it degrades gracefully
    * toward uniform — never below what min/max alone said. Per-bin NDV
    * apportions the column's (KMV) distinct count by bin width — the
    * uniform-distincts assumption applied PER BIN instead of globally.
    * Returns (height, bins); None when the shape carries no signal
    * (no rows, a single point, or one triple — that IS uniform). */
  private[sources] def equiHeightHistogram(
      triples: Seq[(Double, Double, Long)], ndv: Long,
      binCount: Int = 32): Option[(Double, Seq[(Double, Double, Long)])] = {
    val total = triples.map(_._3).sum
    if (triples.size < 2 || total <= 0 || ndv <= 0) return None
    val gLo = triples.map(_._1).min
    val gHi = triples.map(_._2).max
    if (!(gHi > gLo) || gLo.isNaN || gHi.isNaN ||
        gLo.isInfinite || gHi.isInfinite) return None
    def cdf(x: Double): Double = {
      var s = 0.0
      triples.foreach { case (lo, hi, r) =>
        s += (if (x <= lo) 0.0
          else if (x >= hi || hi == lo) r.toDouble
          else r * (x - lo) / (hi - lo))
      }
      s
    }
    val b = math.min(binCount, triples.size)
    val height = total.toDouble / b
    val edges = new Array[Double](b + 1)
    edges(0) = gLo
    edges(b) = gHi
    var j = 1
    while (j < b) {
      val target = height * j
      var lo = edges(j - 1)
      var hi = gHi
      var i = 0
      while (i < 48) {
        val mid = lo / 2 + hi / 2
        if (cdf(mid) < target) lo = mid else hi = mid
        i += 1
      }
      edges(j) = hi
      j += 1
    }
    val widthAll = gHi - gLo
    val bins = (0 until b).map { i =>
      val w = math.max(edges(i + 1) - edges(i), 0.0)
      (edges(i), edges(i + 1),
        math.max(1L, math.round(ndv * w / widthAll)))
    }
    Some((height, bins))
  }

  /** NDV estimate from a merged KMV sketch over the 64-bit hash space:
    * exact when fewer than k distinct hashes were ever seen, else the
    * standard (k-1)/kth-minimum-fraction estimator. */
  private[sources] def kmvEstimate(minima: Seq[Long]): Long =
    if (minima.size < KmvK) minima.size.toLong
    else {
      val kth = minima.max(UnsignedLongOrdering)
      // fraction of the unsigned 64-bit space at/below kth: a negative
      // long is its two's-complement value plus 2^64 in the unsigned
      // domain (NOT a 2^63 shift — that would be signed order).
      val u = if (kth >= 0) kth.toDouble else kth.toDouble + math.pow(2, 64)
      val frac = u / math.pow(2, 64)
      math.max(math.round((KmvK - 1) / math.max(frac, 1e-18)), KmvK.toLong)
    }

  private[sources] def renderKmv(minima: Seq[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(minima.size * 8)
    minima.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private[sources] def parseKmv(b64: String): Seq[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    (0 until bytes.length / 8).map(_ => bb.getLong)
  }

  private[sources] def renderEqDelete(d: EqDelete): String =
    "{\"name\":\"" + NdjsonCodec.escape(d.name) + "\",\"cols\":\"" +
      NdjsonCodec.escape(d.cols.mkString(",")) + "\",\"rows\":" + d.rows +
      ",\"seq\":" + d.seq + "}"

  /** Parse the pointer's `eqdeletes` array (absent on pre-eq manifests
    * and segment files). */
  private[sources] def parseEqDeletes(txt: String): Seq[EqDelete] =
    arrayText(txt, "eqdeletes") match {
      case None => Nil
      case Some(raw) =>
        entryObjects(s"""{"x":[$raw]}""").flatMap { obj =>
          val m = NdjsonCodec.parseLine(obj)
          (m.get("name"), m.get("cols"), m.get("rows"), m.get("seq")) match {
            case (Some(NdjsonCodec.JsonStr(n)), Some(NdjsonCodec.JsonStr(c)),
                Some(NdjsonCodec.JsonTok(r)), Some(NdjsonCodec.JsonTok(s))) =>
              Some(EqDelete(n, c.split(",").toSeq, r.toLong, s.toLong))
            case _ => None
          }
        }
    }

  private[sources] def committedEqDeletes(dir: String): Seq[EqDelete] = {
    val cur = SchemaEvolution.currentNamesAt(dir)
    parseEqDeletes(manifestText(dir, ManifestName))
      .map(SchemaEvolution.normalizeEqDelete(_, cur))
  }

  /** Pending equality-delete tombstone file names (public: tests and
    * operational tooling inspect the merge-on-read debt). */
  def committedEqDeleteNames(dir: String): Seq[String] =
    committedEqDeletes(dir).map(_.name)

  /** Sub-file stat blocks per committed file (public: tooling inspects
    * block-pruning coverage — see [[StagedFile.blocks]]). */
  def committedBlockCounts(dir: String): Map[String, Int] =
    committedEntries(dir).map(e => e.name -> e.blocks.size).toMap

  /** Entries of a pointer-or-legacy manifest text: segment-referenced
    * entries first (list order), then any inline `files` entries.
    * Referenced segments read STRICTLY — a missing segment file throws
    * instead of silently vanishing its committed entries (the same
    * data-invisibility class as the round-9 brace bug; an absent
    * pointer is an empty table, an absent referenced segment is
    * corruption or a concurrent-GC race and must be loud). */
  private[sources] def resolveEntries(dir: String, txt: String): Seq[StagedFile] = {
    val raw = segmentRefsFull(txt).flatMap(r =>
      parseEntries(segmentTextStrict(dir, r.name))) ++ parseEntries(txt)
    // Normalize name-keyed metadata to CURRENT column names (see
    // [[SchemaEvolution]]) — this one chokepoint makes bounds pruning,
    // metadata-only DELETE, aggregate pushdown, SPJ tuples and sort
    // stamps rename-transparent, including against pre-rename
    // manifests reached by time travel. Identity-fast when the table
    // never renamed.
    val cur = SchemaEvolution.currentNamesAt(dir)
    if (cur.isEmpty) raw else raw.map(SchemaEvolution.normalizeEntry(_, cur))
  }

  private[sources] def segmentTextStrict(dir: String, name: String): String = {
    val p = Paths.get(dir, name)
    if (!Files.exists(p))
      throw new java.io.UncheckedIOException(
        s"manifest references segment $name but it is missing from $dir — " +
          "either corruption or a concurrent compact/truncate/" +
          "expireSnapshots retired the snapshot this read resolved",
        new java.nio.file.NoSuchFileException(p.toString))
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
  }

  /** One reference in the pointer's `segments` array. `summary` is the
    * segment-level rollup (rows/bytes totals + column bounds merged
    * across the segment's entries, rendered in the SAME flat shape as a
    * file entry) — the manifest-list idea: a filtered scan tests the
    * summary FIRST and skips reading the whole segment file when no
    * entry inside can match. None for legacy name-only references,
    * which are then always read (skipping is an optimization, never a
    * correctness dependency). */
  private[sources] final case class SegmentRef(name: String,
      summary: Option[StagedFile])

  /** References of a pointer manifest's `"segments":[...]` array —
    * bare-string elements (legacy, name only) and summary objects both
    * parse; string-aware throughout (summary string bounds may contain
    * any character, including braces and brackets). Empty for legacy
    * single-file manifests. */
  private[sources] def segmentRefsFull(txt: String): Seq[SegmentRef] =
    arrayText(txt, "segments") match {
      case None => Nil
      case Some(raw) =>
        val out = collection.mutable.ArrayBuffer[SegmentRef]()
        var i = 0
        while (i < raw.length) {
          raw.charAt(i) match {
            case '"' =>
              val sb = new java.lang.StringBuilder
              i += 1
              var esc = false
              while (i < raw.length && (esc || raw.charAt(i) != '"')) {
                if (esc) { sb.append(raw.charAt(i)); esc = false }
                else if (raw.charAt(i) == '\\') esc = true
                else sb.append(raw.charAt(i))
                i += 1
              }
              i += 1
              out += SegmentRef(sb.toString, None)
            case '{' =>
              val start = i
              var d = 0; var inStr = false; var esc = false
              var end = -1
              while (i < raw.length && end < 0) {
                val c = raw.charAt(i)
                if (inStr) {
                  if (esc) esc = false
                  else if (c == '\\') esc = true
                  else if (c == '"') inStr = false
                } else c match {
                  case '"' => inStr = true
                  case '{' => d += 1
                  case '}' => d -= 1; if (d == 0) end = i
                  case _ =>
                }
                i += 1
              }
              if (end > start)
                parseEntryObj(raw.substring(start, end + 1))
                  .foreach(sf => out += SegmentRef(sf.name, Some(sf)))
            case _ => i += 1
          }
        }
        out.toSeq
    }

  private[sources] def segmentRefs(txt: String): Seq[String] =
    segmentRefsFull(txt).map(_.name)

  private[sources] def manifestText(dir: String, name: String): String = {
    // Reader-side virtual roll-forward: a committed cross-table txn
    // whose pointer swap has not physically happened yet (see
    // [[GraftTxn]]) already IS the table's current state — serving the
    // old pointer here would tear the transaction's all-or-nothing
    // visibility. One marker stat per resolution; tables never touched
    // by a txn pay exactly that stat.
    if (name == ManifestName) {
      val pending = pendingTxnText(dir)
      if (pending.isDefined) return pending.get
    }
    val m = Paths.get(dir, name)
    if (!Files.exists(m)) return ""
    new String(Files.readAllBytes(m), StandardCharsets.UTF_8)
  }

  /** Extract the entry objects (depth 2 inside the outer
    * {"generation":..,"files":[..]} wrapper) with a STRING-AWARE brace
    * scanner: a '{' or '}' inside a recorded string bound (document
    * min/max stats embed document text) is data, not structure. The
    * round-9 flat-object regex got this wrong — a brace in a stat
    * silently dropped the committed file's entry (data loss via the
    * next truncate's GC) — so depth counts only outside string
    * literals, with backslash escapes keeping the quote state honest. */
  private[sources] def entryObjects(txt: String): Seq[String] = {
    val objs = collection.mutable.ArrayBuffer[String]()
    var depth = 0; var inStr = false; var esc = false; var start = -1
    var i = 0
    while (i < txt.length) {
      val c = txt.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => depth += 1; if (depth == 2) start = i
        case '}' =>
          if (depth == 2 && start >= 0) {
            objs += txt.substring(start, i + 1); start = -1
          }
          depth -= 1
        case _ =>
      }
      i += 1
    }
    objs.toSeq
  }

  /** Raw inner text of the depth-1 `"key":[ ... ]` array, string-aware
    * (braces/brackets inside string literals are data): None when the
    * key is absent. Entries are flat objects, so the only structural
    * nesting inside the array is one brace level. */
  private[sources] def arrayText(txt: String, key: String): Option[String] = {
    var i = 0; var depth = 0
    def readStr(): String = {
      val sb = new java.lang.StringBuilder
      i += 1
      var esc = false
      while (i < txt.length && (esc || txt.charAt(i) != '"')) {
        if (esc) { sb.append(txt.charAt(i)); esc = false }
        else if (txt.charAt(i) == '\\') esc = true
        else sb.append(txt.charAt(i))
        i += 1
      }
      i += 1
      sb.toString
    }
    def ws(): Unit = while (i < txt.length && txt.charAt(i) <= ' ') i += 1
    while (i < txt.length) {
      txt.charAt(i) match {
        case '"' =>
          val s = readStr()
          if (depth == 1 && s == key) {
            ws()
            if (i < txt.length && txt.charAt(i) == ':') { i += 1; ws() }
            if (i < txt.length && txt.charAt(i) == '[') {
              i += 1
              val start = i
              // Find the matching ']': only strings and flat objects
              // occur inside, so track brace depth and string state.
              var d = 0; var inStr = false; var esc = false
              while (i < txt.length) {
                val c = txt.charAt(i)
                if (inStr) {
                  if (esc) esc = false
                  else if (c == '\\') esc = true
                  else if (c == '"') inStr = false
                } else c match {
                  case '"' => inStr = true
                  case '{' => d += 1
                  case '}' => d -= 1
                  case ']' if d == 0 => return Some(txt.substring(start, i))
                  case _ =>
                }
                i += 1
              }
              return Some(txt.substring(start))
            }
          }
        case '{' => depth += 1; i += 1
        case '}' => depth -= 1; i += 1
        case _ => i += 1
      }
    }
    None
  }

  /** One flat entry object → StagedFile (None when malformed). */
  private[sources] def parseEntryObj(obj: String): Option[StagedFile] = {
      val m = NdjsonCodec.parseLine(obj)
      m.get("name") match {
        case Some(NdjsonCodec.JsonStr(n)) =>
          val rows = m.get("rows") match {
            case Some(NdjsonCodec.JsonTok(r)) => r.toLong
            case _ => 0L
          }
          // Re-render parsed stat values to their JSON literal form so
          // an entry composed forward into the next manifest carries
          // its bounds unchanged.
          def rendered(v: NdjsonCodec.JsonVal): String = v match {
            case NdjsonCodec.JsonStr(s) => "\"" + NdjsonCodec.escape(s) + "\""
            case NdjsonCodec.JsonTok(raw) => raw
            case NdjsonCodec.JsonRaw(raw) => raw // never a stat, defensive
            case NdjsonCodec.JsonNull => "null"
          }
          // Data-file size recorded at write time (round-10): planning
          // reads it from the manifest instead of a per-file
          // Files.size round-trip — pre-`bytes` manifests read as -1
          // and planning falls back to the filesystem.
          val bytes = m.get("bytes") match {
            case Some(NdjsonCodec.JsonTok(b)) => b.toLong
            case _ => -1L
          }
          val nans = m.collect {
            case (k, NdjsonCodec.JsonTok("true")) if k.startsWith("nan.") =>
              k.drop(4)
          }.toSet
          val mins = m.collect { case (k, v) if k.startsWith("min.") =>
            k.drop(4) -> rendered(v) }
          val maxs = m.collect { case (k, v) if k.startsWith("max.") =>
            k.drop(4) -> rendered(v) }
          val stats = mins.toSeq.sortBy(_._1).flatMap { case (c, lo) =>
            maxs.get(c).map(hi => ColStat(c, lo, hi, nans.contains(c)))
          }
          val nulls = m.collect {
            case (k, NdjsonCodec.JsonTok(v)) if k.startsWith("nulls.") =>
              k.drop(6) -> v.toLong
          }.toMap
          val parts = m.collect {
            case (k, v) if k.startsWith("part.") => k.drop(5) -> rendered(v)
          }.toMap
          val dv = m.get("dv") match {
            case Some(NdjsonCodec.JsonStr(d)) => Some(d)
            case _ => None
          }
          val dvRows = m.get("dvRows") match {
            case Some(NdjsonCodec.JsonTok(r)) if dv.isDefined => r.toLong
            case _ => 0L
          }
          val seq = m.get("seq") match {
            case Some(NdjsonCodec.JsonTok(s)) => s.toLong
            case _ => 0L
          }
          val sorted = m.get("sorted") match {
            case Some(NdjsonCodec.JsonStr(s)) if s.nonEmpty =>
              s.split(",").toSeq
            case _ => Nil
          }
          val bloomCols = m.get("bloomcols") match {
            case Some(NdjsonCodec.JsonStr(s)) if s.nonEmpty =>
              s.split(",").toSeq
            case _ => Nil
          }
          // Sub-file block stats: `blk.<i>.<kind>[.<col>]` flat keys,
          // grouped by index. Malformed frames drop ALL blocks —
          // conservative (no sub-file pruning), never wrong.
          val blkKeys = m.iterator.filter(_._1.startsWith("blk.")).toSeq
          val blocks: Seq[BlockStat] =
            if (blkKeys.isEmpty) Nil
            else try {
              blkKeys.groupBy(_._1.split('.')(1).toInt).toSeq.sortBy(_._1)
                .map { case (_, kvs) =>
                  val km = kvs.map { case (k, v) =>
                    k.split('.').drop(2).mkString(".") -> v
                  }.toMap
                  def tok(k: String): String = km(k) match {
                    case NdjsonCodec.JsonTok(t) => t
                    case _ => throw new NumberFormatException(k)
                  }
                  val nans = km.keys.filter(_.startsWith("nan.")).map(_.drop(4)).toSet
                  val bMins = km.collect { case (k, v) if k.startsWith("min.") =>
                    k.drop(4) -> rendered(v) }
                  val bMaxs = km.collect { case (k, v) if k.startsWith("max.") =>
                    k.drop(4) -> rendered(v) }
                  BlockStat(tok("s").toLong, tok("e").toLong, tok("r").toLong,
                    bMins.toSeq.sortBy(_._1).flatMap { case (c, lo) =>
                      bMaxs.get(c).map(hi => ColStat(c, lo, hi, nans.contains(c)))
                    },
                    physStart = km.get("p").collect {
                      case NdjsonCodec.JsonTok(t) => t.toLong
                    }.getOrElse(-1L))
                }
            } catch { case _: Exception => Nil }
          val codec = m.get("codec") match {
            case Some(NdjsonCodec.JsonStr(c)) => c
            case _ => ""
          }
          val kmv = m.collect {
            case (k, NdjsonCodec.JsonStr(b64)) if k.startsWith("kmv.") =>
              try Some(k.drop(4) -> parseKmv(b64))
              catch { case _: Exception => None }
          }.flatten.toMap
          val minted = m.get("minted") match {
            case Some(NdjsonCodec.JsonTok(t)) => t.toLong
            case _ => 0L
          }
          val idbase = m.get("idbase") match {
            case Some(NdjsonCodec.JsonTok(t)) => Some(t.toLong)
            case _ => None
          }
          Some(StagedFile(n, rows, stats, bytes, nulls, parts, dv, dvRows,
            seq, sorted, bloomCols, blocks, codec, kmv, minted, idbase))
        case _ => None
      }
    }

  /** Entries of the manifest's `files` array ONLY — the pointer's
    * `segments` array may carry summary OBJECTS (same flat shape) that
    * must not be mistaken for file entries, so the object scan is
    * scoped to the files array's raw text. */
  private[sources] def parseEntries(txt: String): Seq[StagedFile] =
    arrayText(txt, "files") match {
      case None => Nil
      // Re-wrapping puts the array's objects back at depth 2, which is
      // what the brace scanner expects.
      case Some(raw) => entryObjects("{" + raw + "}").flatMap(parseEntryObj)
    }

  /** Committed data files per the manifest — the only files a reader may
    * trust (staged or orphaned files are invisible by construction). */
  def committedFiles(dir: String): Seq[String] =
    committedEntries(dir).map(_.name)

  def committedRowCount(dir: String): Long =
    committedEntries(dir).map(_.liveRows).sum

  /** Monotonic commit counter carried in the manifest — pre-generation
    * manifests read as 0. Lost updates (a bug the lock exists to
    * prevent) would show as a non-monotonic or repeated generation. */
  def committedGeneration(dir: String): Long = {
    // Via manifestText so a committed-but-unswapped cross-table txn's
    // generation is visible (same roll-forward readers get).
    val txt = manifestText(dir, ManifestName)
    if (txt.isEmpty) return 0L
    "\"generation\":(\\d+)".r.findFirstMatchIn(txt)
      .map(_.group(1).toLong).getOrElse(0L)
  }

  /** Commit-side half of the ADD CONSTRAINT race (round-17): refuse to
    * publish rows that were analyzed BEFORE an enforced CHECK landed in
    * the table meta — Spark plants CHECK validation into write plans at
    * analysis, so such rows were never validated and would persist
    * under a constraint recorded VALID. Runs under the publish lock
    * (the ALTER's meta swap is also lock-held, so the read here is
    * consistent). Stand-down cases: None (internal rewrites of
    * already-validated rows) and tables with no catalog meta. */
  private[sources] def requireNoConstraintDrift(dir: Path,
      planned: Option[Set[String]]): Unit =
    planned.foreach { snap =>
      if (Files.exists(GraftCatalog.metaPath(dir))) {
        val current = GraftCatalog.enforcedCheckKeys(
          GraftCatalog.readMeta(dir)._3)
        val added = current -- snap
        if (added.nonEmpty)
          throw new IllegalStateException(
            s"enforced CHECK constraint(s) ${added.mkString(", ")} were " +
              s"added to $dir after this write was planned — its rows " +
              "carry no validation for them; re-run the write (it will " +
              "re-resolve the table and validate)")
      }
    }

  /** A lock this old is presumed orphaned by a crashed committer and may
    * be broken (the manifest critical section is milliseconds of local
    * file work; minutes of hold time means the holder died). */
  private[sources] val DefaultLockLeaseMs: Long = 15L * 60 * 1000

  /** How long an acquirer polls a LIVE (in-lease) lock before the loud
    * concurrent-committer failure — two jobs committing at once is
    * normal (the critical section is milliseconds), a lock held for
    * seconds is a long publish worth surfacing. */
  private[sources] val LockAcquireWaitMs: Long = 5000L

  /** Acquire wait for CONFLICT-FREE commits — plain appends, tombstone
    * (equality-delete) appends, streaming epoch appends. These compose
    * against whatever manifest they find once inside the lock, so no
    * concurrent commit can invalidate their plan: the re-read under
    * the lock IS the optimistic re-validate, and an append always
    * validates clean. They therefore QUEUE politely behind a live
    * holder — compaction legitimately holds the lock for O(data) time
    * and heartbeats it — up to the holder's lease (past which the
    * stale-lock reclaim takes over), instead of failing at the short
    * [[LockAcquireWaitMs]] the way conflict-DETECTING commits
    * (copy-on-write replacement, dynamic partition overwrite) must:
    * their file-level plans go stale while they wait, so surfacing
    * the contention early beats queueing on a doomed commit. This is
    * Iceberg's optimistic commit protocol with the create-exclusive
    * lock standing in for the metadata-pointer CAS: two daily-
    * partition backfills landing disjoint files both commit, in
    * either order. */
  private[sources] val AppendAcquireWaitMs: Long = DefaultLockLeaseMs

  /** Intra-JVM monitor per canonical table directory: the whole
    * acquire-or-break sequence below runs under it, so two committers
    * in ONE process can never interleave their staleness checks — the
    * only interleaving a local filesystem cannot itself exclude. */
  private val publishMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Serialize the manifest's read-compose-swap critical section:
    * create-exclusive lock file carrying an OWNER TOKEN, released in
    * `finally` only if the token still matches (we never delete a lock
    * another committer legitimately re-acquired). A second concurrent
    * committer first WAITS briefly ([[LockAcquireWaitMs]] — two jobs
    * committing at once is normal, the critical section is
    * milliseconds) and only then FAILS (loudly) rather than silently
    * dropping the first one's entries in a last-rename-wins race —
    * UNLESS the existing lock is older than `leaseMs`, in which case
    * it is treated as the debris of a crashed committer and
    * reclaimed. The reclaim is
    * race-hardened on three levels:
    *
    *   1. in-process, the entire acquire/break sequence holds a
    *      per-directory JVM monitor, so two local threads can never
    *      interleave their staleness checks (the Delta local-LogStore
    *      posture);
    *   2. cross-process, the break is an ATOMIC RENAME of the stale
    *      lock to a breaker-unique debris name — of N racing breakers
    *      exactly one move succeeds and the losers throw; a loser can
    *      never delete the winner's freshly created lock the way an
    *      unguarded deleteIfExists could;
    *   3. the renamed debris is VERIFIED to still carry the measured
    *      dead owner's token — if a live committer re-locked between
    *      the check and the move, the debris holds the WRONG token and
    *      is put back via create-link (atomic, never replaces) before
    *      standing down. */
  private[sources] def withPublishLock[T](dir: Path,
      leaseMs: Long = DefaultLockLeaseMs,
      acquireWaitMs: Long = LockAcquireWaitMs)(body: => T): T =
    withFileLock(dir, LockName, leaseMs, acquireWaitMs) {
      // A pending cross-table txn (its committer died mid-swap, or
      // before its commit point) resolves HERE, under the lock, before
      // any commit logic runs: every committer builds on the resolved
      // state, so a stale staged swap can never clobber a newer commit.
      // GraftTxn.commitAll writes its own markers AFTER this point
      // (inside the body), so a txn never resolves itself.
      resolvePendingTxn(dir)
      body
    }

  /** The same create-exclusive + lease-reclaim file lock, generalized
    * over the lock FILE NAME — what lets a coarser critical section
    * (materialized-view refresh: read watermark → fold delta → append →
    * advance watermark) hold ITS OWN lock while the inner manifest
    * commit still takes the publish lock normally (different files, no
    * self-deadlock). `acquireWaitMs` widens the polite wait for
    * sections that legitimately run longer than a manifest swap. */
  private[sources] def withFileLock[T](dir: Path, lockName: String,
      leaseMs: Long = DefaultLockLeaseMs,
      acquireWaitMs: Long = LockAcquireWaitMs)(body: => T): T = {
    Files.createDirectories(dir)
    val lock = dir.resolve(lockName)
    val token = java.util.UUID.randomUUID().toString
    def readLock(): Option[String] =
      try Some(new String(Files.readAllBytes(lock), StandardCharsets.UTF_8))
      catch { case _: java.io.IOException => None }
    def tryAcquire(): Boolean =
      try {
        Files.write(lock, token.getBytes(StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    def concurrentFailure(): Nothing =
      throw new IllegalStateException(
        s"concurrent committer detected on $dir: $lockName exists and is " +
          s"within its ${leaseMs}ms lease. The manifest publish is " +
          "single-writer per directory; if no other job is committing " +
          "here, wait for the lease to lapse (the lock is then reclaimed " +
          "automatically) or delete the file to recover immediately.")
    val monitor = publishMonitors.computeIfAbsent(
      dir.toAbsolutePath.normalize.toString + "#" + lockName, _ => new Object)
    // BOUNDED acquire wait: the critical section is milliseconds
    // (compaction excepted, and it heartbeats), so two jobs committing
    // at once is normal operation, not an error — briefly poll before
    // concluding "concurrent committer". Past the wait the loud failure
    // stands: a lock held for seconds means a live long publish, and
    // queueing indefinitely behind it would just hide the contention.
    def acquireOnce(): Unit = monitor.synchronized {
      if (!tryAcquire()) {
        // TOKEN-BRACKETED age read: (token, mtime, token) — only when
        // both token reads agree does the mtime describe THAT lock
        // incarnation (tokens are unique per acquire, so equality rules
        // out a swap between the reads). Reading age first and token
        // second would let a sibling's complete reclaim (old lock →
        // debris, new lock created) land in between, pairing the OLD
        // incarnation's stale age with the NEW live holder's token —
        // the stale branch would then break a freshly acquired lock
        // and admit two committers at once.
        val holderPre = readLock()
        val age =
          try System.currentTimeMillis - Files.getLastModifiedTime(lock).toMillis
          catch { case _: java.io.IOException => -1L } // vanished below
        val holder = readLock()
        if (holderPre != holder)
          concurrentFailure() // lock turned over mid-read: live activity
        if (age < 0 || holder.isEmpty) {
          // The lock vanished between attempts — its holder released;
          // take the normal acquire path once more.
          if (!tryAcquire()) concurrentFailure()
        } else if (age <= leaseMs) {
          concurrentFailure()
        } else {
          // Pointer read deferred to the (rare) stale branch: a queued
          // committer polls this method for up to its whole wait, and
          // parsing the manifest pointer on every iteration would be
          // thousands of discarded reads on the common live-holder path.
          val genBefore = committedGeneration(dir.toString)
          // Lease lapsed: break the stale lock, but only while the SAME
          // dead owner holds it and no publish progressed — any
          // movement means a live committer.
          if (readLock() != holder ||
              committedGeneration(dir.toString) != genBefore)
            throw new IllegalStateException(
              s"lock activity detected on $dir while reclaiming a stale " +
                s"$lockName — another committer is live; not breaking the lock.")
          // Break by ATOMIC RENAME to a breaker-unique debris name: the
          // stale lock path exists exactly once, so of N racing
          // breakers exactly one move succeeds — a loser can never
          // delete the winner's freshly created lock the way an
          // unguarded deleteIfExists could.
          val debris = dir.resolve(s"$lockName.broken-$token")
          try Files.move(lock, debris,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch {
            case _: java.io.IOException =>
              throw new IllegalStateException(
                s"lost the reclaim race on $dir: the stale $lockName was " +
                  "already broken by another committer; retry this commit.")
          }
          // Verify the debris IS the stale acquisition we measured
          // (owner tokens are unique per acquire). A different token
          // means a cross-process committer re-locked in the window
          // between the staleness check and the move: restore its lock
          // with an atomic create-link (which fails rather than
          // replaces if yet another committer acquired meanwhile) and
          // stand down.
          val got =
            try Some(new String(Files.readAllBytes(debris), StandardCharsets.UTF_8))
            catch { case _: java.io.IOException => None }
          if (got != holder) {
            // Restore the live committer's lock before standing down —
            // and VERIFY it is back: a swallowed restore failure would
            // leave the live committer finishing its critical section
            // unlocked (a third committer could then acquire
            // concurrently). Preference order: hard link (atomic,
            // never replaces a newer lock), then ATOMIC_MOVE of the
            // debris back (filesystems without hard links), then a
            // CREATE_NEW rewrite of the debris content. If the lock
            // path EXISTS after any step — ours or a newer
            // committer's — the directory is locked again and standing
            // down is safe.
            def restoreAttempt(step: => Unit): Boolean = {
              try step catch { case _: Exception => () }
              Files.exists(lock)
            }
            val restored =
              restoreAttempt { Files.createLink(lock, debris) } ||
              restoreAttempt { Files.move(debris, lock,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE) } ||
              restoreAttempt { got.foreach(h => Files.write(lock,
                h.getBytes(StandardCharsets.UTF_8),
                java.nio.file.StandardOpenOption.CREATE_NEW)) }
            try Files.deleteIfExists(debris)
            catch { case _: java.io.IOException => () }
            if (!restored)
              throw new IllegalStateException(
                s"broke a freshly re-acquired $lockName on $dir and could " +
                  "not restore it (link, move, and rewrite all failed) — " +
                  "the live committer is running unlocked; re-create " +
                  s"$lockName manually or quiesce committers before retrying.")
            throw new IllegalStateException(
              s"lock activity detected on $dir while breaking a stale " +
                s"$lockName — a live committer re-locked; its lock was restored.")
          }
          Files.deleteIfExists(debris)
          if (!tryAcquire())
            throw new IllegalStateException(
              s"lost the reacquire race on $dir after breaking a stale " +
                s"$lockName — another committer won; retry this commit.")
        }
      }
    }
    // TRANSIENT losses retry alongside the polite wait: a reclaim /
    // reacquire race lost to another committer, or a live holder
    // re-locking mid-break, all mean "someone else is making progress
    // — poll again"; only exhausting the deadline surfaces the
    // contention. Without this, a queued append that waited out a
    // crashed compactor's lease could lose the reclaim race to its
    // sibling backfill and fail a commit the round-16 contract says
    // must land.
    def transient(e: IllegalStateException): Boolean = {
      val m = e.getMessage
      m != null && (m.contains("concurrent committer") ||
        m.contains("lost the reclaim race") ||
        m.contains("lost the reacquire race") ||
        m.contains("lock activity detected"))
    }
    var acquireDeadline = System.currentTimeMillis + acquireWaitMs
    // A heartbeating holder EXTENDS a queueing caller's deadline: the
    // advancing mtime proves live progress (compaction refreshing
    // between bins), and failing a polite queuer behind a live 20-min
    // compaction would re-create exactly the contention failure the
    // queue exists to remove. Short-wait (conflict-detecting) callers
    // keep their fixed deadline — their plans go stale while queued,
    // so early surfacing stays correct for them.
    val extendOnHeartbeat = acquireWaitMs > LockAcquireWaitMs
    var lastMtime = -1L
    var acquired = false
    while (!acquired) {
      try { acquireOnce(); acquired = true }
      catch {
        case e: IllegalStateException
            if transient(e) && System.currentTimeMillis < acquireDeadline =>
          if (extendOnHeartbeat) {
            val mt =
              try Files.getLastModifiedTime(lock).toMillis
              catch { case _: java.io.IOException => -1L }
            if (mt > 0 && lastMtime > 0 && mt != lastMtime)
              acquireDeadline = System.currentTimeMillis + acquireWaitMs
            if (mt > 0) lastMtime = mt
            // A lost reclaim/reacquire race is PROGRESS (a sibling
            // just took the lock for its milliseconds of commit work),
            // but it often lands within one poll interval of the lease
            // lapse — exactly when the heartbeat-extended deadline is
            // about to expire. Grant the queueing caller a short grace
            // so the scramble's loser retries once the winner's swap
            // completes, instead of failing inside its polite wait.
            if (!e.getMessage.contains("concurrent committer"))
              acquireDeadline = math.max(acquireDeadline,
                System.currentTimeMillis + LockAcquireWaitMs)
          }
          Thread.sleep(25L + scala.util.Random.nextInt(50))
      }
    }
    try body
    finally {
      if (readLock().contains(token)) Files.deleteIfExists(lock)
    }
  }

  /** Refresh the publish lock's mtime so a LIVE holder inside a long
    * critical section — compaction merges data files in O(data) time
    * under the lock — is never mistaken for a crashed one: the lease
    * check reads the lock's age, and without refreshes a slow holder
    * past `leaseMs` looks identical to a dead one (the generation
    * re-check cannot distinguish slow-unpublished from crashed). Call
    * it between units of long work; failures are ignored — a missed
    * heartbeat only narrows the safety margin back to the lease. */
  private[sources] def heartbeatLock(dir: Path): Unit =
    try Files.setLastModifiedTime(dir.resolve(LockName),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis))
    catch { case _: java.io.IOException => () }

  /** Compaction — the small-files answer (a streaming sink at one file
    * per (epoch, partition) accretes thousands of tiny files whose
    * per-file open/parse overhead eventually dominates the scan): glue
    * committed files whose row counts are below `targetRows` into
    * bin-packed replacements, in ONE atomic manifest swap. NDJSON is
    * line-framed, so merging is driver-side stream concatenation — no
    * Spark job, no re-encode — and per-column bounds merge as
    * min-of-mins / max-of-maxs (numeric tokens compare as decimals,
    * strings lexically; a mixed or unparsable column drops its stat,
    * which only costs pruning, never correctness). Readers see the old
    * file set or the new one, never a mix; retired originals are
    * deleted AFTER the swap (idempotent GC) — UNLESS retained
    * generations exist, in which case they stay on disk until
    * expireSnapshots/vacuum collects them, so compaction never
    * invalidates time travel or tagged snapshots.
    *
    * Returns the number of small files merged away. */
  def compact(dir: String, targetRows: Long): Int = {
    val dirPath = Paths.get(dir)
    withPublishLock(dirPath) { compactLocked(dirPath, targetRows) }
  }

  /** PARTITION-SCOPED compaction (Iceberg's
    * `rewrite_data_files(where => ...)` shape): only files whose
    * RECORDED partition tuple matches every `k -> v` in `scope` (the
    * rendered literal / bucket id, exactly as `part.*` keys store
    * them) are merge candidates — at 100 TB, maintenance runs on the
    * one hot partition (today's date, one language), not the table.
    * Conservative: a file with NO recorded value for a scoped key is
    * out of scope (never merged under a claim it can't prove). */
  def compactPartition(dir: String, targetRows: Long,
      scope: Map[String, String]): Int = {
    val dirPath = Paths.get(dir)
    withPublishLock(dirPath) {
      compactLocked(dirPath, targetRows,
        exclude = _ => false,
        inScope = e => scope.forall { case (k, v) =>
          e.partValues.get(k).contains(v) })
    }
  }

  /** Compaction core, caller already holding the publish lock — the
    * streaming sink auto-compacts INSIDE its epoch-commit critical
    * section (one lock acquisition, no self-deadlock). `exclude` keeps
    * named files out of the merge: the streaming path excludes the
    * just-committed epoch's files so an epoch replay (failure between
    * sink commit and checkpoint advance) still finds its own
    * epoch-named entries to retire. */
  private[sources] def compactLocked(dirPath: Path, targetRows: Long,
      exclude: String => Boolean = _ => false,
      // Partition scope: only in-scope entries are merge candidates;
      // everything else carries over untouched.
      inScope: StagedFile => Boolean = _ => true): Int = {
    val dir = dirPath.toString
    locally {
      val entries = committedEntries(dir)
      val eqDeletes = committedEqDeletes(dir)
      // Post-rename reads resolve vintage payload keys (data lines AND
      // tombstone key files keep the names they were written under).
      val aliases = SchemaEvolution.aliasesAt(dir)
      // Equality-delete key sets load lazily, once per delete file —
      // they are tombstone batches (small by contract), and only the
      // deletes some merged member actually predates are read.
      val eqSets = collection.mutable.HashMap[String, java.util.HashSet[String]]()
      def filtersFor(e: StagedFile): Seq[(Seq[String], java.util.HashSet[String])] =
        eqDeletes.filter(_.seq > e.seq).map(d =>
          d.cols -> eqSets.getOrElseUpdate(d.name,
            eqKeySet(dir, d.name, d.cols, aliases)))
      // The LATEST streaming epoch is replay-protected: the sink's
      // replay idempotence retires stale attempts BY NAME PREFIX
      // (part-eNNNNN-), so an external compaction merging those
      // entries into compact-* names between a sink commit and its
      // checkpoint advance would make the replay find nothing to
      // retire and double-count the epoch. Only the max epoch can
      // ever replay (Structured Streaming starts epoch k+1 only after
      // k's checkpoint commit), so excluding it alone keeps external
      // maintenance safe on actively-tailed tables at zero cost to
      // the backlog (the in-commit autoCompact path already excludes
      // its own epoch the same way).
      val epochRe = "part-e(\\d+)-.*".r
      val latestEpoch: Option[String] = entries.flatMap(e =>
        e.name match {
          case epochRe(num) => Some((num.toLong, num))
          case _ => None
        }).maxByOption(_._1).map(_._2) // numeric max, digit string as written
      val replayProtected = (name: String) =>
        latestEpoch.exists(num => name.startsWith(s"part-e$num-"))
      val (smallAll, big) = entries.partition(e =>
        e.rows < targetRows && !exclude(e.name) && inScope(e) &&
          !replayProtected(e.name) &&
          // Identity-minted entries carry FILE-RELATIVE placeholders
          // (resolved through their own idbase): concat would mix
          // bases. They carry over untouched; a copy-on-write rewrite
          // materializes absolute values and re-opens compaction.
          e.idbase.isEmpty &&
          // Parquet-kind candidates must be DELETE-FREE: the row-group
          // append below copies rows verbatim (no decode), so a DV or
          // an applicable tombstone cannot be materialized — such
          // entries carry over untouched until their deletes compact
          // away by other means (CoW rewrite). Existence check only —
          // candidacy must not force tombstone key-set loads.
          (!GraftParquet.isParquet(e.name) ||
            (e.dv.isEmpty && !eqDeletes.exists(_.seq > e.seq))))
      val (smallPq, small) = smallAll.partition(e =>
        GraftParquet.isParquet(e.name))
      if (small.size < 2 && smallPq.size < 2) return 0
      // First-fit bin packing over name-sorted small files: determinism
      // over optimality (the wins come from merging at all).
      val bins = collection.mutable.ArrayBuffer[collection.mutable.ArrayBuffer[StagedFile]]()
      small.sortBy(_.name).foreach { f =>
        bins.find(b => b.map(_.rows).sum + f.rows <= targetRows) match {
          case Some(b) => b += f
          case None => bins += collection.mutable.ArrayBuffer(f)
        }
      }
      val (merge, keepSingles) = bins.partition(_.size >= 2)
      val generation = committedGeneration(dir)
      val merged = merge.zipWithIndex.map { case (group, k) =>
        // Per-bin heartbeat: each merged bin is a bounded unit of work,
        // so the lock's age never exceeds one bin's copy time and the
        // lease-based reclaim cannot break a live compactor.
        heartbeatLock(dirPath)
        val name = f"compact-g${generation + 1}%06d-$k%04d.ndjson"
        var liveWritten = 0L
        var eqApplied = false
        // BLOCK CARRY (round 14): the raw-concat fast path copies lines
        // byte-exactly, so members' sub-file block stats stay valid with
        // SHIFTED offsets — logical by the running uncompressed size,
        // physical (compressed frames) by the running on-disk size. The
        // compacted file keeps block pruning and frame-parallel splits —
        // compaction is precisely how files get big enough to need them.
        // Any member that re-renders (DV/eqdelete materialization,
        // transcode, sorted merge) drops the whole group's carry: its
        // offsets are no longer knowable. A compressed member without
        // frame-aligned blocks has an UNKNOWN logical size — same drop.
        val carried = collection.mutable.ArrayBuffer[BlockStat]()
        var carryOk = true
        var carryLog = 0L
        var carryPhys = 0L
        // SORTED MERGE: when every group member carries the SAME sort
        // stamp, merge by key instead of concatenating — the output
        // stays physically sorted and the stamp SURVIVES compaction,
        // so sort-free merge joins keep working through maintenance.
        // Deletion vectors and equality filters only drop rows, so
        // they compose (filtered sorted inputs merge sorted). Mixed or
        // absent stamps take the streaming concat path and drop the
        // claim (sound, never wrong).
        val stamps = group.map(_.sorted).distinct
        val mergeSorted = stamps.size == 1 && stamps.head.nonEmpty
        // Into place BEFORE the swap: invisible until the manifest
        // names it, orphaned if we crash here (GC'd by a later compact).
        Publish.replace(dirPath.resolve(name)) { tmp =>
          val out = Files.newOutputStream(tmp)
          try {
            val outCodec = codecAt(dir)
            // Re-rendered members write through a fresh codec layer per
            // member, sealed WITHOUT closing the shared file stream —
            // members/frames concatenate, exactly like the raw-copy fast
            // path (gzip: `finish()`; zstd: close through a close shield).
            def withSink(body: java.io.OutputStream => Unit): Unit =
              outCodec match {
                case "gzip" =>
                  val g = new java.util.zip.GZIPOutputStream(out, 1 << 16)
                  body(g); g.finish()
                case "zstd" =>
                  val z = new com.github.luben.zstd.ZstdOutputStream(
                    new java.io.FilterOutputStream(out) {
                      // Bulk write must NOT fall back to the per-byte
                      // FilterOutputStream loop.
                      override def write(b: Array[Byte], off: Int,
                          len: Int): Unit = out.write(b, off, len)
                      override def close(): Unit = out.flush() // shield
                    })
                  body(z); z.close()
                case _ => body(out)
              }
            if (mergeSorted) {
              val lines = group.flatMap { f =>
                val eqFilters = filtersFor(f)
                if (eqFilters.nonEmpty) eqApplied = true
                collectLiveLines(dirPath.resolve(f.name),
                  f.dv.map(d => readDvOffsets(dir, d))
                    .getOrElse(Array.empty[Long]), eqFilters, aliases, f.codec)
              }
              // Stable sort of concatenated pre-sorted runs == the k-way
              // merge (equal keys keep their run order).
              withSink { sink =>
                lines.map(l => (lineSortKey(l, stamps.head, aliases), l))
                  .sortBy(_._1)(lineKeyOrdering)
                  .foreach { case (_, l) =>
                    sink.write(l); sink.write('\n'); liveWritten += 1
                  }
              }
            } else group.foreach { f =>
              val eqFilters = filtersFor(f)
              if (eqFilters.nonEmpty) eqApplied = true
              (f.dv, eqFilters.isEmpty && f.codec == outCodec) match {
                // Compaction MATERIALIZES both delete shapes: positional
                // vectors AND applicable equality deletes — the merged
                // output carries live lines only, so the sidecars retire
                // with the files they annotated and the merge-on-read
                // debt is paid exactly once, here. Raw byte concat is
                // valid only codec-to-same-codec (gzip members chain);
                // a codec mismatch transcodes line-by-line instead.
                case (None, true) =>
                  Files.copy(dirPath.resolve(f.name), out)
                  liveWritten += f.rows
                  if (carryOk) {
                    val onDisk = fileSize(dir, f)
                    if (outCodec.isEmpty) {
                      // Plain: logical == physical bytes; a block-less
                      // member contributes ONE synthetic block spanning
                      // itself (its file-level stats are its bounds).
                      val bs =
                        if (f.blocks.size >= 2) f.blocks
                        else Seq(BlockStat(0L, onDisk, f.rows, f.stats))
                      carried ++= bs.map(b => b.copy(
                        start = b.start + carryLog, end = b.end + carryLog,
                        physStart = -1L))
                      carryLog += onDisk
                    } else if (f.blocks.size >= 2 &&
                        f.blocks.forall(_.physStart >= 0)) {
                      // Compressed: frame-aligned blocks cover the whole
                      // file, so the last block's end IS the logical size.
                      carried ++= f.blocks.map(b => b.copy(
                        start = b.start + carryLog, end = b.end + carryLog,
                        physStart = b.physStart + carryPhys))
                      carryLog += f.blocks.last.end
                      carryPhys += onDisk
                    } else carryOk = false
                  }
                case (dv, _) =>
                  carryOk = false // re-rendered: offsets no longer knowable
                  withSink { sink =>
                    liveWritten += copyLiveLinesFiltered(
                      dirPath.resolve(f.name),
                      dv.map(d => readDvOffsets(dir, d))
                        .getOrElse(Array.empty[Long]),
                      eqFilters, sink, aliases, f.codec)
                  }
              }
            }
          } finally out.close()
        }
        // Live rows: materialization counted exactly what it wrote.
        // Merged BOUNDS may overstate (they described the physical
        // rows) — sound for min/max pruning: the physical range is a
        // superset of the live range. NULL COUNTS are different: the
        // proofs pair `nulls.c` with the entry's row total, and this
        // entry's total is LIVE rows while the members' counts are
        // PHYSICAL — if a group member carried a deletion vector (or
        // had equality deletes applied) the pairing is incoherent
        // (physical nulls == live rows would wrongly prove all-null /
        // prune IsNotNull). Drop the counts for such groups so null
        // proofs stand down; delete-free groups keep the exact sum.
        // seq = the NEW generation: applicable equality deletes were
        // just materialized, so none may re-apply to the merged file.
        // Partition tuple: preserved iff every group member recorded
        // the SAME tuple (scoped compaction merges within a partition,
        // so this is the common case) — a mixed or absent tuple drops,
        // which only costs pruning, never correctness.
        val tuples = group.map(_.partValues).distinct
        StagedFile(name, liveWritten,
          mergeStats(group.map(_.stats).toSeq),
          Files.size(dirPath.resolve(name)),
          if (group.exists(_.dv.isDefined) || eqApplied) Map.empty[String, Long]
          else mergeNullCounts(group.toSeq),
          partValues = if (tuples.size == 1) tuples.head
            else Map.empty[String, String],
          seq = generation + 1,
          sorted = if (mergeSorted) stamps.head else Nil,
          codec = codecAt(dir),
          // Carried blocks (raw-concat groups only): sub-file pruning
          // and frame-parallel splits survive compaction. The writer's
          // per-file cap backstops entry size; an over-cap carry drops
          // (absence disables, never corrupts).
          blocks = if (!mergeSorted && carryOk && carried.size >= 2 &&
              carried.size <= MaxBlocksPerFile) carried.toSeq else Nil,
          // KMV unions are exact sketch algebra; like the merged
          // BOUNDS they may overstate once deletes materialized
          // (they described the physical rows) — sound for an
          // ESTIMATE, and a column any member lacks drops out.
          kmv = mergeKmv(group.map(_.kmv).toSeq))
      }
      // PARQUET bins: row-group APPEND (parquet-hadoop's appendFile) —
      // member row groups copy into the merged file without decode, so
      // the merge is I/O-bound like the NDJSON raw concat. Bins are
      // homogeneous in FOOTER SCHEMA (mixed-vintage files keep their
      // own physical schemas; appending across them would lie), and
      // members are delete-free by candidacy, so rows/stats/null
      // counts/KMV fold exactly. Bloom sidecars drop (absence only
      // disables skipping); blocks/sort stamps never existed for the
      // kind.
      val pqGroups = GraftParquet.compactGroups(dirPath, smallPq,
        targetRows, generation + 1, () => heartbeatLock(dirPath))
      val mergedPq = pqGroups.map { case (group, outName) =>
          val tuples = group.map(_.partValues).distinct
          StagedFile(outName, group.map(_.rows).sum,
            mergeStats(group.map(_.stats).toSeq),
            Files.size(dirPath.resolve(outName)),
            mergeNullCounts(group.toSeq),
            partValues = if (tuples.size == 1) tuples.head
              else Map.empty[String, String],
            seq = generation + 1,
            kmv = mergeKmv(group.map(_.kmv).toSeq))
      }
      val pqMergedMembers = pqGroups.flatMap(_._1.map(_.name)).toSet
      val pqSingles = smallPq.filterNot(e => pqMergedMembers.contains(e.name))
      if (merge.isEmpty && mergedPq.isEmpty) return 0
      val next = big ++ keepSingles.flatten ++ merged ++ pqSingles ++ mergedPq
      // An equality delete whose every predating file was just merged
      // away (materialized) retires with them; one any remaining file
      // still predates stays pending.
      val (staleEq, liveEq) =
        eqDeletes.partition(d => !next.exists(_.seq < d.seq))
      publishManifest(dirPath, next, generation + 1, "compact",
        eqDeletes = Some(liveEq))
      // Retired originals leave the directory ONLY when no retained
      // generation (or tag) can still reference them — on retained
      // tables the merged-away files stay until expireSnapshots/vacuum
      // collects them, so compaction no longer invalidates time travel
      // or tagged snapshots (round-11 fix; the old behavior deleted
      // unconditionally and documented the breakage as a trade).
      if (!hasRetainedGenerations(dir)) {
        (merge.flatten ++ smallPq.filter(e =>
            pqMergedMembers.contains(e.name))).flatMap(ownedNames)
          .foreach(n => Files.deleteIfExists(dirPath.resolve(n)))
        staleEq.foreach(d => Files.deleteIfExists(dirPath.resolve(d.name)))
      }
      // Compaction collapsed every prior segment into one fresh one —
      // sweep the retired segments (and any crash orphans) now.
      sweepSegments(dirPath)
      merge.map(_.size).sum + pqMergedMembers.size
    }
  }

  /** Schema-free stat merge: JSON-token bounds compare as decimals,
    * string bounds lexically; a column missing from ANY member — or
    * mixing shapes — drops out (no stats beats wrong stats). */
  private[sources] def mergeStats(all: Seq[Seq[ColStat]]): Seq[ColStat] = {
    if (all.isEmpty) return Nil
    val byCol = all.map(_.map(s => s.col -> s).toMap)
    val shared = byCol.map(_.keySet).reduce(_ intersect _)
    def lower(a: String, b: String): Option[String] = cmp(a, b).map(c => if (c <= 0) a else b)
    def upper(a: String, b: String): Option[String] = cmp(a, b).map(c => if (c >= 0) a else b)
    def cmp(a: String, b: String): Option[Int] =
      (a.startsWith("\""), b.startsWith("\"")) match {
        case (true, true) =>
          // UTF8String byte order — the order the writer's stat
          // tracking and the scan's STRING pruning compare use. One
          // trap: TIMESTAMP bounds render as ISO instants at VARIABLE
          // precision (Instant.toString omits zero fractions), where
          // byte order and chronological order can DISAGREE
          // ("…01Z" > "…01.123456Z" bytewise, earlier in time) — and
          // timestamp pruning compares numeric micros. mergeStats is
          // type-blind (a STRING column can hold instant-shaped text
          // whose pruning IS byte-ordered), so when both tokens parse
          // as instants and the two orders disagree, no single answer
          // is valid for both possible column types: DROP the bound
          // (costs pruning, never correctness). Agreeing orders — the
          // common same-precision case — merge normally.
          for {
            x <- asStr(a); y <- asStr(b)
            sc = UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
            ok <- {
              val chrono =
                try Some(java.time.Instant.parse(x)
                  .compareTo(java.time.Instant.parse(y)))
                catch { case _: Exception => None }
              chrono match {
                case Some(cc) if Integer.signum(cc) != Integer.signum(sc) =>
                  None // orders disagree: no bound valid for both types
                case _ => Some(sc)
              }
            }
          } yield ok
        case (false, false) =>
          try Some(new java.math.BigDecimal(a)
            .compareTo(new java.math.BigDecimal(b)))
          catch { case _: NumberFormatException => None }
        case _ => None
      }
    def asStr(r: String): Option[String] =
      NdjsonCodec.parseLine(s"""{"v":$r}""").get("v").collect {
        case NdjsonCodec.JsonStr(s) => s
      }
    def foldBound(vals: Seq[String],
        pick: (String, String) => Option[String]): Option[String] =
      vals.tail.foldLeft(Option(vals.head))((acc, v) => acc.flatMap(pick(_, v)))
    shared.toSeq.sorted.flatMap { c =>
      val ss = byCol.map(_(c)).toSeq
      for {
        lo <- foldBound(ss.map(_.min), lower)
        hi <- foldBound(ss.map(_.max), upper)
      } yield ColStat(c, lo, hi, ss.exists(_.hasNan)) // NaN anywhere → NaN in the merge
    }
  }

  /** Write the manifest LAST in the publish sequence, via temp file +
    * atomic rename: the swap is the single instant the commit becomes
    * visible. Callers delete retired files only AFTER this returns, so
    * a crash at any point leaves either the old manifest (whose files
    * all still exist) or the new one — never a manifest referencing
    * deleted data. */
  private[sources] def renderEntry(f: StagedFile): String = {
    val stats = f.stats.flatMap(s =>
      Seq(s""""min.${s.col}":${s.min}""", s""""max.${s.col}":${s.max}""") ++
        (if (s.hasNan) Seq(s""""nan.${s.col}":true""") else Nil))
    val bytes = if (f.bytes >= 0) Seq(s""""bytes":${f.bytes}""") else Nil
    val nulls = f.nullCounts.toSeq.sortBy(_._1).map { case (c, n) =>
      s""""nulls.$c":$n"""
    }
    // Explicit partition-tuple values (transform-partitioned writes —
    // a bucket id is not derivable from column bounds). The part NAME
    // may contain parens/commas; escape like any key.
    val parts = f.partValues.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"part." + NdjsonCodec.escape(k) + "\":" + v
    }
    // Deletion vector: the sidecar's name and how many physical rows
    // it deletes — `rows` stays the PHYSICAL line count the stat
    // proofs reason over; live = rows - dvRows.
    val dv = f.dv.toSeq.flatMap(d =>
      Seq("\"dv\":\"" + NdjsonCodec.escape(d) + "\"",
        s""""dvRows":${f.dvRows}"""))
    // Commit sequence (generation the file was committed at, legacy 0):
    // what equality deletes test applicability against.
    val seq = if (f.seq > 0) Seq(s""""seq":${f.seq}""") else Nil
    val sorted = if (f.sorted.isEmpty) Nil
      else Seq("\"sorted\":\"" +
        NdjsonCodec.escape(f.sorted.mkString(",")) + "\"")
    // Bloom-indexed columns (the sidecar name is derived from the data
    // file's own name, so only the column list rides the manifest).
    val bloom = if (f.bloomCols.isEmpty) Nil
      else Seq("\"bloomcols\":\"" +
        NdjsonCodec.escape(f.bloomCols.mkString(",")) + "\"")
    // Sub-file block stats, flat-keyed like everything else in an
    // entry: `blk.<i>.s/e/r` frame the byte range and row count,
    // `blk.<i>.min/max/nan.<col>` carry the block's bounds in the same
    // rendered-literal form as the file-level stats.
    val blocks = f.blocks.zipWithIndex.flatMap { case (b, i) =>
      Seq(s""""blk.$i.s":${b.start}""", s""""blk.$i.e":${b.end}""",
        s""""blk.$i.r":${b.rows}""") ++
        (if (b.physStart >= 0) Seq(s""""blk.$i.p":${b.physStart}""") else Nil) ++
        b.stats.flatMap(s =>
          Seq(s""""blk.$i.min.${s.col}":${s.min}""",
            s""""blk.$i.max.${s.col}":${s.max}""") ++
            (if (s.hasNan) Seq(s""""blk.$i.nan.${s.col}":true""") else Nil))
    }
    val codec = if (f.codec.isEmpty) Nil
      else Seq("\"codec\":\"" + NdjsonCodec.escape(f.codec) + "\"")
    val kmv = f.kmv.toSeq.sortBy(_._1).map { case (c, minima) =>
      s""""kmv.$c":"${renderKmv(minima)}""""
    }
    // Identity minting state ([[GraftIdentity]]): `minted` only rides
    // STAGED entries (the commit consumes it and assigns `idbase`);
    // a committed entry carries the base readers resolve through.
    val ident =
      (if (f.minted > 0) Seq(s""""minted":${f.minted}""") else Nil) ++
        f.idbase.toSeq.map(b => s""""idbase":$b""")
    (Seq(s""""name":"${f.name}"""", s""""rows":${f.rows}""") ++ bytes ++
      stats ++ nulls ++ parts ++ dv ++ seq ++ sorted ++ bloom ++ codec ++
      kmv ++ ident ++ blocks).mkString("{", ",", "}")
  }

  private[sources] def generationManifestName(gen: Long): String =
    f"manifest-g$gen%06d.json"

  /** Data-file size from the MANIFEST (recorded at write time) — the
    * plan must not pay O(files) filesystem round-trips per query on an
    * object store. Pre-`bytes` manifests (-1) fall back to a stat. */
  private[sources] def fileSize(dir: String, f: StagedFile): Long =
    if (f.bytes >= 0) f.bytes
    else try Files.size(Paths.get(dir, f.name)) catch { case _: Exception => 0L }

  /** Change-feed marker column: every CDF row carries
    * `_change_type` = "insert" | "delete", filled at PLAN time as a
    * partition constant (data files never store it). */
  private[sources] val ChangeTypeColumn = "_change_type"

  /** The generation-diff planner shared by the STREAMING source (one
    * micro-batch = one diff) and BATCH change-feed reads
    * (startingVersion/endingVersion — Delta's table_changes shape).
    * Plans exactly the files that changed in (s, e]: appends via the
    * O(delta) pointer diff (carried segments never re-read), and in
    * change-feed mode retirements re-emit as "delete" partitions while
    * pure compactions emit nothing. Without changeFeed, a retirement
    * fails loudly — an append-only consumer must not silently see
    * re-delivered rows. */
  private[sources] def planGenerationDiff(path: String, full: StructType,
      pushed: Array[sources.Filter], maxSplitBytes: Long,
      s: Long, e: Long, changeFeed: Boolean): Array[InputPartition] = {
    if (e <= s) return Array.empty
    // Old-window manifests carry vintage column names — normalize to
    // current so the pushed-filter proofs and eqdelete key columns
    // resolve (see [[SchemaEvolution]]).
    val ren = SchemaEvolution.currentNamesAt(path)
    val norm = (f: StagedFile) => SchemaEvolution.normalizeEntry(f, ren)
    val keep = (f: StagedFile) =>
      pushed.forall(fl => ManifestStats.mayMatch(full, f, fl))
    val eTxt = manifestTextAt(path,
      if (e == committedGeneration(path)) None else Some(e))
    // Equality deletes AS OF the window end ride every planned file
    // (applicable by the seq rule) so a snapshot batch and replayed
    // retirements serve live rows only. A window in which the delete
    // SET ITSELF changed is refused below.
    val eqsE = parseEqDeletes(eTxt).map(SchemaEvolution.normalizeEqDelete(_, ren))
    def plan(fs: Seq[StagedFile], change: String): Seq[InputPartition] =
      fs.flatMap(f => splitFile(path, f, maxSplitBytes,
        eqsE.filter(_.seq > f.seq).map(d => EqRef(d.name, d.cols)))).map {
        case p: ManifestFilePartition if changeFeed =>
          p.copy(constants = Map(ChangeTypeColumn -> change))
        case p => p
      }
    if (s == 0L)
      return plan(resolveEntries(path, eTxt).filter(keep), "insert").toArray
    val sTxt = manifestTextAt(path, Some(s))
    // An equality-delete commit inside the window removes rows without
    // touching any file entry — invisible to the name-level diff. A
    // plain APPEND-ONLY tail still refuses loudly (it must not
    // silently re-see deleted rows), but a CHANGE-FEED read REPRESENTS
    // it: the tombstone's affected rows are reconstructed by applying
    // its key set to the files it predates — the same membership test
    // the normal read runs, inverted into EMIT-ONLY legs — and re-emit
    // as `_change_type='delete'`. A tombstone REMOVED in the window
    // (a RESTORE rewound past its commit) symmetrically re-emits its
    // resurrected rows as "insert" against the END state's predating
    // files; a removal via compaction-materialization plans nothing
    // here (the compacted files' seq postdates the tombstone) and the
    // retired/added file diff below represents it as delete+insert
    // pairs instead.
    val sEqs = parseEqDeletes(sTxt).map(SchemaEvolution.normalizeEqDelete(_, ren))
    val eqLegs: Seq[InputPartition] = locally {
      val sNames = sEqs.map(_.name).toSet
      val eNames = eqsE.map(_.name).toSet
      if (sNames == eNames) Nil
      else if (!changeFeed)
        throw new IllegalStateException(
          s"generations $s -> $e of $path changed the equality-delete set " +
            s"(${(sNames diff eNames).toSeq.sorted.mkString(", ")}" +
            s"${(eNames diff sNames).toSeq.sorted.mkString(", ")}) — equality " +
            "deletes are applied at read, not representable in an " +
            "append-only incremental window; restart the read from the " +
            "current generation, read with readChangeFeed=true to consume " +
            "the deletes as change rows, or compact first to materialize them")
      else {
        val added = eqsE.filterNot(d => sNames.contains(d.name))
        val removed = sEqs.filterNot(d => eNames.contains(d.name))
        // One leg per AFFECTED FILE, not per tombstone: a row matching
        // two window tombstones must emit once (the reader ORs the
        // emit sets). Drop filters = the state's OWN applicable
        // tombstones, so rows already dead before the window never
        // re-emit as freshly deleted.
        def legs(entries: Seq[StagedFile], applicable: Seq[EqDelete],
            emits: Seq[EqDelete], change: String): Seq[InputPartition] =
          entries.filter(keep).flatMap { f =>
            val emitSet = emits.filter(_.seq > f.seq)
            if (emitSet.isEmpty) Nil
            else splitFile(path, f, maxSplitBytes,
                applicable.filter(_.seq > f.seq)
                  .map(d => EqRef(d.name, d.cols))).map {
              case p: ManifestFilePartition =>
                p.copy(constants = Map(ChangeTypeColumn -> change),
                  eqEmit = emitSet.map(d => EqRef(d.name, d.cols)))
                  : InputPartition
              case p => p
            }
          }
        legs(resolveEntries(path, sTxt), sEqs, added, "delete") ++
          legs(resolveEntries(path, eTxt), eqsE, removed, "insert")
      }
    }
    val sRefs = segmentRefsFull(sTxt).map(_.name).toSet
    val sInline = parseEntries(sTxt)
    val eRefs = segmentRefsFull(eTxt)
    if (sInline.isEmpty && sRefs.subsetOf(eRefs.map(_.name).toSet)) {
      // FAST PATH (steady-state appends): segments are immutable and
      // every start-generation segment is still referenced, so no
      // committed file can have retired — the delta is exactly the NEW
      // segments (+ any new inline entries). Planning cost is
      // O(delta + #segments), never O(table): carried segments are not
      // even read (their summaries still prune).
      val newSegs = eRefs.filterNot(r => sRefs.contains(r.name))
      val segDelta = newSegs.flatMap { r =>
        if (r.summary.exists(su => !keep(norm(su)))) Nil
        else parseEntries(segmentTextStrict(path, r.name)).map(norm).filter(keep)
      }
      (eqLegs ++ plan(segDelta ++ parseEntries(eTxt).map(norm).filter(keep),
        "insert")).toArray
    } else {
      // SLOW PATH (a collapse/migration/rewrite happened): full
      // name-level diff, which is also where retirement — a non-append
      // change — surfaces. A plain tail refuses it; a CHANGE FEED read
      // (retained tables — retired files stay on disk for exactly the
      // retention window) represents it: retired files' rows re-emit
      // with `_change_type` = "delete", added files' with "insert" — a
      // MERGE rewrite becomes delete+insert pairs, Delta-CDF style. A
      // purely PHYSICAL rewrite (every added file is compaction output
      // and row counts balance) emits nothing: no logical change
      // happened — Delta's dataChange=false idea, detected structurally.
      val beforeEntries = resolveEntries(path, sTxt)
      val before = beforeEntries.map(_.name).toSet
      val after = resolveEntries(path, eTxt)
      val retired = beforeEntries.filterNot(f => after.exists(_.name == f.name))
      val added = after.filterNot(f => before.contains(f.name))
      // MERGE-ON-READ row changes: a file carried across the window
      // whose deletion vector CHANGED. Two directions, planned
      // symmetrically so neither needs a driver-side offset read:
      //  - rows in the NEW vector but not the old were deleted in the
      //    window (`emitOnly new / except old` → "delete");
      //  - rows in the OLD vector but not the new were RESURRECTED —
      //    a RESTORE republished an older entry under the same name
      //    with a smaller (or absent) vector (`emitOnly old / except
      //    new` → "insert"). Without this leg a CDC consumer that
      //    applied the delete window would diverge permanently.
      // A direction whose source vector is absent plans nothing (no
      // offsets to emit); a planned direction with an empty offset
      // difference reads zero rows — correctness never depends on
      // classifying growth vs shrinkage up front.
      val dvChanged = after.flatMap(a =>
        beforeEntries.find(b => b.name == a.name && b.dv != a.dv)
          .map(b => (a, b)))
      if (retired.isEmpty && dvChanged.isEmpty)
        (eqLegs ++ plan(added.filter(keep), "insert")).toArray
      else if (!changeFeed)
        throw new IllegalStateException(
          s"generations $s -> $e of $path retired files or rows " +
            s"(${(retired.map(_.name) ++ dvChanged.map(_._1.name)).mkString(", ")}" +
            ") — compaction, DELETE, truncate, restore, or an epoch " +
            "replay ran under this streaming read; a streamed table " +
            "must stay append-only while tailed — pause maintenance, " +
            "restart the stream from the current generation, or read " +
            "with readChangeFeed=true to consume the changes")
      else if (dvChanged.isEmpty &&
          added.forall(f => f.name.startsWith("compact-") && f.dv.isEmpty) &&
          added.map(_.rows).sum == retired.map(_.liveRows).sum &&
          added.nonEmpty && eqLegs.isEmpty)
        // Pure compaction: physical rewrite, no logical change. The
        // dv.isEmpty guard is load-bearing: a deletion vector landing
        // on the freshly-compacted file LATER IN THE SAME WINDOW is a
        // logical delete the row-count equality cannot see (`rows` is
        // physical) — it must fall through to the generic diff, whose
        // retired-delete + live-insert legs represent it exactly
        // (fuzz-caught: compact at g+1, DV delete at g+2, window
        // (g, g+2] silently dropped the deletes).
        Array.empty
      else {
        val dvRowChanges: Seq[InputPartition] = dvChanged.flatMap { case (a, b) =>
          if (!keep(a)) Nil
          else {
            def leg(src: Option[String], except: Option[String],
                change: String): Seq[InputPartition] =
              if (src.isEmpty) Nil
              else splitFile(path, a, maxSplitBytes).map {
                case p: ManifestFilePartition =>
                  p.copy(constants = Map(ChangeTypeColumn -> change),
                    dv = DvSpec(emitOnly = src, emitExcept = except))
                    : InputPartition
                case p => p
              }
            leg(a.dv, b.dv, "delete") ++ leg(b.dv, a.dv, "insert")
          }
        }
        (eqLegs ++ plan(retired.filter(keep), "delete") ++ dvRowChanges ++
          plan(added.filter(keep), "insert")).toArray
      }
    }
  }

  /** Byte-range partitions for one committed file (Hadoop line-split
    * contract) — shared by the batch scan and the streaming source.
    *
    * `pruning` (the plain batch scan passes it; row-level and
    * key-grouped scans must NOT — a copy-on-write rewrite reads every
    * row of the files it replaces, and a key-grouped sorted claim
    * assumes one split per key): when the entry carries sub-file
    * BLOCK stats, byte ranges whose bounds prove no filter match are
    * never planned — the parquet row-group skip, at manifest level.
    * Block boundaries sit at line starts; planning a kept block as
    * `(start-1, end-1]` rides the existing line-split contract
    * unchanged (the reader discards the single '\n' byte at start-1
    * and emits exactly the block's lines). */
  private[sources] def splitFile(dir: String, f: StagedFile,
      maxSplitBytes: Long, eq: Seq[EqRef] = Nil,
      pruning: Option[(StructType, Array[sources.Filter])] = None,
      // Key-grouped scans pass false: their ordering claim assumes one
      // split per compressed file (fileSize-based for plain files), so
      // block-granular splitting must not fan a keyed file out.
      blockSplit: Boolean = true)
      : Seq[InputPartition] = {
    val p = Paths.get(dir, f.name)
    val size = fileSize(dir, f)
    // Identity base rides every split of the file (stored placeholders
    // are file-relative, independent of split position).
    val idb = f.idbase.getOrElse(-1L)
    // Every read of a DV'd file — batch scan, streaming tail, CDF
    // insert replay — skips its deleted offsets; each split loads the
    // (small) sidecar independently. Equality-delete refs ride the
    // partition the same way: each split loads the (small) tombstone
    // files that apply to THIS data file (delete.seq > file.seq) and
    // drops matching-key rows at read.
    val dv = DvSpec(skip = f.dv)
    // PARQUET-kind entries (self-describing by extension): BYTE-RANGE
    // splits, like plain files — parquet's own midpoint rule assigns
    // each row group to exactly the one split containing its midpoint,
    // so any byte partitioning yields every row exactly once, and a
    // 1 GB file fans out across tasks instead of reading single-stream.
    // The reader derives each split's ordinal BASE from the footer
    // (row groups before the range), so ordinal-keyed DVs and `_pos`
    // stay exact under splitting. Key-grouped scans (blockSplit=false)
    // stay one split per file for their per-key ordering claim.
    if (GraftParquet.isParquet(f.name)) {
      if (!blockSplit || size <= maxSplitBytes)
        return Seq(ManifestFilePartition(p.toString, 0L, Long.MaxValue,
          dv = dv, eq = eq, idbase = idb))
      return (0L until size by maxSplitBytes).map(s =>
        ManifestFilePartition(p.toString, s,
          math.min(s + maxSplitBytes, size), dv = dv, eq = eq, idbase = idb))
    }
    if (f.codec.nonEmpty) {
      // SEEKABLE COMPRESSED FILES: when every block records the
      // physical offset its gzip member / zstd frame begins at (the
      // writer seals the codec stream at block boundaries), the file
      // prunes AND splits like a plain one — each planned range starts
      // at a frame boundary and spans whole blocks, logical offsets
      // intact (row identity, DVs, `_pos` unchanged). Legacy compressed
      // files (no frame-aligned blocks) stay one unsplittable stream.
      val seekable = blockSplit && f.blocks.size >= 2 &&
        f.blocks.forall(_.physStart >= 0)
      if (!seekable)
        return Seq(ManifestFilePartition(p.toString, 0L, Long.MaxValue,
          dv = dv, eq = eq, codec = f.codec, idbase = idb))
      val surviving = pruning match {
        case Some((full, filters)) if filters.nonEmpty =>
          f.blocks.filter { b =>
            val pseudo = StagedFile(f.name, 0L, b.stats)
            filters.forall(fl => ManifestStats.mayMatch(full, pseudo, fl))
          }
        case _ => f.blocks
      }
      // Greedy grouping of CONSECUTIVE survivors into ~maxSplitBytes
      // LOGICAL chunks — decompressed bytes drive task cost, and a
      // pruning gap forces a new group (new seek point).
      val groups = surviving.foldLeft(List.empty[(Long, Long, Long)]) {
        case ((ps, ls, le) :: tail, b)
            if b.start == le && le - ls < maxSplitBytes =>
          (ps, ls, b.end) :: tail
        case (acc, b) => (b.physStart, b.start, b.end) :: acc
      }.reverse
      // Lines with first byte in [ls, le) == reader range (ls, le-1]
      // with pos pre-set to ls — frame-aligned, no partial-line discard.
      return groups.map { case (ps, ls, le) =>
        ManifestFilePartition(p.toString, ls, le - 1, dv = dv, eq = eq,
          codec = f.codec, physStart = ps, idbase = idb)
      }
    }
    val kept: Option[Seq[(Long, Long)]] = pruning match {
      case Some((full, filters)) if f.blocks.size >= 2 && filters.nonEmpty =>
        // A pseudo-entry per block: its bounds, NO null counts and a
        // zero row total, so IS NULL / IS NOT NULL proofs stand down
        // (blocks don't track nulls) and only bounds prune.
        val surviving = f.blocks.filter { b =>
          val pseudo = StagedFile(f.name, 0L, b.stats)
          filters.forall(fl => ManifestStats.mayMatch(full, pseudo, fl))
        }
        if (surviving.size == f.blocks.size) None // nothing pruned: legacy path
        else Some(surviving.foldLeft(List.empty[(Long, Long)]) {
          // Coalesce adjacent survivors into maximal ranges.
          case ((s, e) :: tail, b) if b.start == e => (s, b.end) :: tail
          case (acc, b) => (b.start, b.end) :: acc
        }.reverse)
      case _ => None
    }
    kept match {
      case Some(ranges) =>
        ranges.flatMap { case (s, e) =>
          // Emit lines with first byte in [s, e) == (s-1, e-1] under
          // the reader's (start, end] contract; interior chunk
          // boundaries behave exactly like legacy splits.
          val start0 = if (s == 0) 0L else s - 1
          (start0 until (e - 1) by maxSplitBytes).map(cs =>
            ManifestFilePartition(p.toString, cs,
              math.min(cs + maxSplitBytes, e - 1), dv = dv, eq = eq, idbase = idb))
        }
      case None =>
        if (size <= maxSplitBytes)
          Seq(ManifestFilePartition(p.toString, 0L, Long.MaxValue, dv = dv,
            eq = eq, idbase = idb))
        else
          (0L until size by maxSplitBytes).map(s =>
            ManifestFilePartition(p.toString, s,
              math.min(s + maxSplitBytes, size), dv = dv, eq = eq, idbase = idb))
    }
  }

  /** One commit's provenance row — `history(dir)`'s DESCRIBE HISTORY
    * shape. Pre-provenance manifests read tag "" and ts 0. */
  final case class CommitInfo(generation: Long, tag: String, ts: Long,
      current: Boolean)

  /** Depth-1 scalar value of `"key":` in a manifest JSON text,
    * string-aware (braces/brackets/colons inside string literals are
    * data, never structure). Strings return unescaped; numbers return
    * their raw token. */
  private def topLevelValue(txt: String, key: String): Option[String] = {
    var i = 0; var depth = 0
    def readStr(): String = {
      val sb = new java.lang.StringBuilder
      i += 1
      var esc = false
      while (i < txt.length && (esc || txt.charAt(i) != '"')) {
        if (esc) { sb.append(txt.charAt(i)); esc = false }
        else if (txt.charAt(i) == '\\') esc = true
        else sb.append(txt.charAt(i))
        i += 1
      }
      i += 1
      sb.toString
    }
    def ws(): Unit = while (i < txt.length && txt.charAt(i) <= ' ') i += 1
    while (i < txt.length) {
      txt.charAt(i) match {
        case '"' =>
          val s = readStr()
          if (depth == 1 && s == key) {
            ws()
            if (i < txt.length && txt.charAt(i) == ':') {
              i += 1; ws()
              if (i < txt.length && txt.charAt(i) == '"') return Some(readStr())
              val start = i
              while (i < txt.length && "-.0123456789eE".indexOf(txt.charAt(i)) >= 0) i += 1
              return Some(txt.substring(start, i)).filter(_.nonEmpty)
            }
          }
        case '{' => depth += 1; i += 1
        case '}' => depth -= 1; i += 1
        case _ => i += 1
      }
    }
    None
  }

  /** Commit history (Delta's DESCRIBE HISTORY): one row per resolvable
    * generation — every retained copy plus the current pointer — newest
    * first, each with the committing tag (query/epoch id, or the
    * operation: "compact", "delete") and wall-clock stamp. Tables
    * written without retainHistory show the current commit only. */
  def history(dir: String): Seq[CommitInfo] = {
    def info(txt: String, current: Boolean): Option[CommitInfo] =
      topLevelValue(txt, "generation").map(_.toLong).map { g =>
        CommitInfo(g, topLevelValue(txt, "tag").getOrElse(""),
          topLevelValue(txt, "ts").map(_.toLong).getOrElse(0L), current)
      }
    val currentGen = committedGeneration(dir)
    val retained = collection.mutable.ArrayBuffer[CommitInfo]()
    val ls = Files.list(Paths.get(dir))
    try ls.iterator().asScala().foreach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("manifest-g") && n.endsWith(".json"))
        info(manifestText(dir, n), current = false).foreach(retained += _)
    } finally ls.close()
    val cur = info(manifestText(dir, ManifestName), current = true)
    (retained.filterNot(c => c.generation == currentGen).toSeq ++ cur)
      .sortBy(-_.generation)
  }

  /** Every data-file name ANY reachable manifest references: the
    * current generation (strict — an unreadable live table is an error,
    * not a GC opportunity) plus every retained generation (lenient — a
    * compact-invalidated retained gen was already unreadable for time
    * travel; treating its references as empty loses nothing live).
    * The vacuum keep-set. */
  private[sources] def allReachableFileNames(dir: String): Set[String] = {
    val retained = collection.mutable.ArrayBuffer[Long]()
    val stagedTxn = collection.mutable.ArrayBuffer[String]()
    val ls = Files.list(Paths.get(dir))
    try ls.iterator().asScala().foreach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("manifest-g") && n.endsWith(".json"))
        retained += n.stripPrefix("manifest-g").stripSuffix(".json").toLong
      // A staged cross-table txn pointer ([[GraftTxn]]) references data
      // files/segments/eqdeletes that are NOT yet in any live manifest
      // but become the table's state at the txn's commit point —
      // vacuuming them would let commitAll publish a manifest over
      // deleted data (committed data loss). Pending-or-aborted is
      // unknowable here (the journal lives elsewhere); keep both — an
      // aborted txn's staged pointer is removed at the next publish-
      // lock acquisition and its files become collectable then.
      else if (n.startsWith("_manifest.txn-") && n.endsWith(".json"))
        stagedTxn += n
    } finally ls.close()
    val stagedTexts = stagedTxn.toSeq.map(n => manifestText(dir, n))
    val texts = manifestText(dir, ManifestName) +:
      (retained.toSeq.map(g => manifestText(dir, generationManifestName(g))) ++
        stagedTexts)
    val old = retained.flatMap { g =>
      try resolveEntries(dir, manifestText(dir, generationManifestName(g)))
      catch { case _: java.io.UncheckedIOException => Seq.empty }
    }
    val staged = stagedTexts.flatMap { t =>
      try resolveEntries(dir, t)
      catch { case _: Exception => Seq.empty }
    }
    // Equality-delete tombstone files referenced by ANY manifest (the
    // current pointer, a retained generation, or a staged txn pointer)
    // are reachable too — vacuum must never GC a live tombstone.
    (committedEntries(dir) ++ old ++ staged).flatMap(ownedNames).toSet ++
      texts.flatMap(t => parseEqDeletes(t).map(_.name))
  }

  /** Does the table keep snapshot history (any retained generation
    * manifest on disk)? Operations that retire files (DELETE) defer
    * their data-file GC to expireSnapshots when it does. */
  private[sources] def hasRetainedGenerations(dir: String): Boolean = {
    val ls = Files.list(Paths.get(dir))
    try ls.iterator().asScala().exists { p =>
      val n = p.getFileName.toString
      n.startsWith("manifest-g") && n.endsWith(".json")
    } finally ls.close()
  }

  private[sources] def segmentName(gen: Long, suffix: String = ""): String =
    f"seg-g$gen%06d$suffix.json"

  /** Write one immutable segment file holding `entries` — INVISIBLE
    * until a pointer manifest names it, so a crash between segment
    * write and pointer swap leaves only sweepable garbage. Written
    * direct (not tmp+rename): the name is unique per generation and
    * nothing references it yet. */
  private[sources] def writeSegment(dir: Path, name: String,
      entries: Seq[StagedFile]): Unit = {
    val json =
      s"""{"files":${entries.map(renderEntry).mkString("[", ",", "]")}}"""
    Files.write(dir.resolve(name), json.getBytes(StandardCharsets.UTF_8))
  }

  /** Segment-level rollup of freshly written entries — rows/bytes
    * totals plus column bounds merged across the segment (conservative:
    * a column absent from any entry drops out). Ride in the POINTER so
    * a filtered scan prunes whole segments before reading them. */
  private[sources] def summarize(segName: String,
      entries: Seq[StagedFile]): StagedFile =
    StagedFile(segName, entries.map(_.rows).sum,
      mergeStats(entries.map(_.stats)),
      if (entries.forall(_.bytes >= 0)) entries.map(_.bytes).sum else -1L,
      mergeNullCounts(entries))

  /** Null counts sum across a merge; a column any member lacks a count
    * for drops out (unknown + n = unknown — absence stays conservative). */
  private[sources] def mergeNullCounts(
      entries: Seq[StagedFile]): Map[String, Long] =
    if (entries.isEmpty) Map.empty
    else entries.map(_.nullCounts.keySet).reduce(_ intersect _).iterator
      .map(c => c -> entries.map(_.nullCounts(c)).sum).toMap

  /** The pointer-manifest swap — the single instant a commit becomes
    * visible. Pointer carries the generation and one reference per
    * segment (name + summary rollup), so its size is O(#segments),
    * never O(entries). Callers delete retired data files and sweep
    * retired segments only AFTER this returns. */
  private[sources] def writePointer(dir: Path, segments: Seq[SegmentRef],
      generation: Long, tag: String, retain: Boolean,
      // None = CARRY the current pointer's equality deletes forward
      // unchanged (the safe default for commits that don't touch
      // them); Some(list) replaces — the eq-delete commit appends,
      // compaction prunes, truncate clears, restore rewinds.
      eqDeletes: Option[Seq[EqDelete]] = None,
      // Some(name) = CROSS-TABLE TXN STAGING: write the pointer json to
      // `name` instead of the live pointer (invisible until
      // GraftTxn.commitAll swaps it); the retained-generation copy is
      // DEFERRED to swap time (a dangling gen copy naming staged files
      // would leak into time travel if the txn aborted) — the json
      // records `txnRetain` so the swap knows to write it.
      stageAs: Option[String] = None): Unit = {
    val segs = segments.map {
      case SegmentRef(_, Some(sum)) => renderEntry(sum)
      case SegmentRef(n, None) => "\"" + n + "\""
    }.mkString("[", ",", "]")
    val eqs = eqDeletes.getOrElse(
      parseEqDeletes(manifestText(dir.toString, ManifestName)))
    val eqTxt =
      if (eqs.isEmpty) ""
      else s""","eqdeletes":${eqs.map(renderEqDelete).mkString("[", ",", "]")}"""
    val retainTxt = if (retain && stageAs.isDefined) ""","txnRetain":true"""
      else ""
    // Commit PROVENANCE rides the pointer: the tag (query/epoch id or
    // the operation name — "compact", "delete") and a wall-clock stamp,
    // Delta's DESCRIBE HISTORY columns. Retained generation copies keep
    // them, so `history(dir)` reads the audit trail back.
    val json = s"""{"generation":$generation,""" +
      s""""tag":"${NdjsonCodec.escape(tag)}",""" +
      s""""ts":${System.currentTimeMillis()},"segments":$segs$eqTxt""" +
      s"""$retainTxt}"""
    // Snapshot retention (time travel): the generation-numbered copy is
    // written BEFORE the pointer swap — a crash between the two leaves
    // a dangling gen file (harmless; replaced on retry), never a
    // current pointer whose snapshot is missing. Segments are immutable,
    // so the copy stays resolvable until expireSnapshots drops it.
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    if (retain && stageAs.isEmpty)
      Publish.replace(dir.resolve(generationManifestName(generation)))(
        Files.write(_, bytes))
    Publish.replace(dir.resolve(stageAs.getOrElse(ManifestName)))(
      Files.write(_, bytes))
    // Live pointer swap: record the new generation for version() readers
    // in this JVM (txn staging changes nothing visible — skipped).
    if (stageAs.isEmpty) noteCommittedGeneration(dir, generation)
  }

  /** FULL rewrite: all entries into ONE fresh segment + pointer swap —
    * the collapse path (truncate, compaction, entry retirement, and
    * every `MaxSegments`-th append). Callers holding the lock sweep
    * retired segments afterwards via [[sweepSegments]]. */
  private[sources] def publishManifest(dir: Path, entries: Seq[StagedFile],
      generation: Long, tag: String, retain: Boolean = false,
      eqDeletes: Option[Seq[EqDelete]] = None,
      stageAs: Option[String] = None): Unit = {
    val segs =
      if (entries.isEmpty) Nil
      else {
        val sn = segmentName(generation)
        writeSegment(dir, sn, entries)
        Seq(SegmentRef(sn, Some(summarize(sn, entries))))
      }
    writePointer(dir, segs, generation, tag, retain, eqDeletes, stageAs)
  }

  /** APPEND publish, the O(delta) path: prior segments are carried BY
    * NAME (never re-read or re-rendered), surviving legacy inline
    * entries migrate into a one-time segment, and the delta gets its
    * own segment. Total bytes written: O(delta + #segments). */
  private[sources] def publishDelta(dir: Path, carrySegments: Seq[SegmentRef],
      migrated: Seq[StagedFile], delta: Seq[StagedFile],
      generation: Long, tag: String, retain: Boolean,
      eqDeletes: Option[Seq[EqDelete]] = None,
      stageAs: Option[String] = None): Unit = {
    val mig =
      if (migrated.isEmpty) Nil
      else {
        val sn = segmentName(generation, "-m")
        writeSegment(dir, sn, migrated)
        Seq(SegmentRef(sn, Some(summarize(sn, migrated))))
      }
    val dseg =
      if (delta.isEmpty) Nil
      else {
        val sn = segmentName(generation)
        writeSegment(dir, sn, delta)
        Seq(SegmentRef(sn, Some(summarize(sn, delta))))
      }
    writePointer(dir, carrySegments ++ mig ++ dseg, generation, tag, retain,
      eqDeletes, stageAs)
  }

  /** GC segment files no manifest references — the current pointer and
    * every retained generation manifest keep theirs; everything else
    * (collapsed-away segments, crash orphans) is deleted. Runs under
    * the publish lock, so no committer is mid-publish. One directory
    * listing per sweep — called only on the already-O(total) collapse
    * paths, never per append. Returns files deleted. */
  private[sources] def sweepSegments(dir: Path): Int = {
    val refs = collection.mutable.Set[String]()
    // Staged cross-table txn pointers (_manifest.txn-*.json) count as
    // manifests here: their segments become live at the txn's commit
    // point, so a collapse commit racing a pending txn must not sweep
    // them out from under it.
    val manifestRe = "(_?manifest([-.][-a-zA-Z0-9]+)?)\\.json".r
    val ls = Files.list(dir)
    val (segs, manifests) =
      try {
        val names = ls.iterator().asScala().map(_.getFileName.toString).toSeq
        (names.filter(n => n.startsWith("seg-") && n.endsWith(".json")),
          names.filter(manifestRe.matches(_)))
      } finally ls.close()
    manifests.foreach(m => refs ++= segmentRefs(manifestText(dir.toString, m)))
    val doomed = segs.filterNot(refs.contains)
    doomed.foreach(n => Files.deleteIfExists(dir.resolve(n)))
    doomed.size
  }

  /** Entries of a RETAINED generation (`versionAsOf` reads). The
    * current generation always resolves (pointer manifest); an older
    * one resolves only if it was written with `retainHistory` and not
    * yet expired. */
  private[sources] def committedEntriesAt(dir: String,
      version: Option[Long]): Seq[StagedFile] =
    resolveEntries(dir, manifestTextAt(dir, version))

  /** Manifest text of the requested generation: the current pointer, or
    * a RETAINED generation copy (`versionAsOf` reads). */
  private[sources] def manifestTextAt(dir: String,
      version: Option[Long]): String = version match {
    case None => manifestText(dir, ManifestName)
    case Some(v) =>
      val genFile = Paths.get(dir, generationManifestName(v))
      if (Files.exists(genFile)) manifestText(dir, generationManifestName(v))
      else if (v == committedGeneration(dir)) manifestText(dir, ManifestName)
      else throw new IllegalArgumentException(
        s"generation $v of $dir is not retained (write with " +
          "option retainHistory=true, and check expireSnapshots)")
  }

  // ----- TAGS (Iceberg-style named snapshots): `_tags.json` maps tag
  // name -> generation, written via temp + atomic rename under the
  // publish lock. A tag makes its generation EXPIRY-PROOF — a
  // reproducible "training-set v1" pointer that survives
  // expireSnapshots until the tag itself is dropped. Read through
  // `VERSION AS OF 'name'` (the catalog resolves non-numeric versions
  // against tags) or the `tagAsOf` read option.

  private[sources] val TagsName = "_tags.json"

  def readTags(dir: String): Map[String, Long] = {
    val p = Paths.get(dir, TagsName)
    if (!Files.exists(p)) return Map.empty
    NdjsonCodec.parseLine(new String(Files.readAllBytes(p),
      StandardCharsets.UTF_8).trim).collect {
      case (k, NdjsonCodec.JsonTok(v)) => k -> v.toLong
    }.toMap
  }

  private def writeTags(dir: Path, tags: Map[String, Long]): Unit = {
    val json = tags.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + NdjsonCodec.escape(k) + "\":" + v
    }.mkString("{", ",", "}") + "\n"
    Publish.replace(dir.resolve(TagsName))(
      Files.write(_, json.getBytes(StandardCharsets.UTF_8)))
  }

  /** Tag `generation` (default: current) with `tag`. The generation
    * must be resolvable — the current one always is; an older one needs
    * a retained manifest (retainHistory), or the tag would point at
    * nothing readable. */
  def createTag(dir: String, tag: String,
      generation: Option[Long] = None): Long = {
    require(tag.nonEmpty && !tag.forall(_.isDigit),
      s"tag '$tag' must be non-empty and non-numeric (numeric versions " +
        "resolve as generations)")
    val dirPath = Paths.get(dir)
    withPublishLock(dirPath) {
      val current = committedGeneration(dir)
      val gen = generation.getOrElse(current)
      require(gen == current ||
        Files.exists(dirPath.resolve(generationManifestName(gen))),
        s"generation $gen of $dir is not retained — tag the current " +
          "generation or enable retainHistory")
      // Tagging the CURRENT generation must survive later commits and
      // expiry even on tables that never retained history: materialize
      // its generation manifest now (a pointer copy; segments are
      // immutable, and tag-referenced generations are expiry-proof).
      if (!Files.exists(dirPath.resolve(generationManifestName(gen)))) {
        val txt = manifestText(dir, ManifestName)
        Files.write(dirPath.resolve(generationManifestName(gen)),
          txt.getBytes(StandardCharsets.UTF_8))
      }
      writeTags(dirPath, readTags(dir) + (tag -> gen))
      gen
    }
  }

  /** RESTORE (Delta's `RESTORE TABLE ... TO VERSION AS OF`): republish
    * a retained (or tagged) generation's file set as the NEW current
    * generation — the write-audit-publish escape hatch: tag before a
    * risky load, validate after, restore on failure. History moves
    * FORWARD (the bad generations stay inspectable until expiry; the
    * change feed sees the restore as retire+add, never a rewind), and
    * every restored file must still exist — retention or a tag is what
    * guarantees that. Returns the new current generation. */
  def restore(dir: String, generation: Long): Long = {
    val dirPath = Paths.get(dir)
    withPublishLock(dirPath) {
      val current = committedGeneration(dir)
      // Restore-to-current is a successful NO-OP (Delta's RESTORE
      // semantics): `CALL system.restore` of a tag created at the
      // current generation must not fail loudly — the table already IS
      // the requested state, and publishing a fresh generation for it
      // would only pollute history and the change feed.
      if (generation == current) current
      else {
        val txt = manifestTextAt(dir, Some(generation)) // throws if not retained
        val entries = resolveEntries(dir, txt)
        val eqs = parseEqDeletes(txt)
        (entries.flatMap(ownedNames) ++ eqs.map(_.name)).foreach(n =>
          require(Files.exists(dirPath.resolve(n)),
            s"cannot restore generation $generation of $dir: $n was " +
              "GC'd — only retained/tagged generations restore"))
        // Keep history through a restore regardless of table mode — and
        // materialize the pre-restore CURRENT generation's manifest if
        // the table never retained, so the restored-FROM state stays
        // reachable and a mistaken restore is itself restorable.
        if (!Files.exists(dirPath.resolve(generationManifestName(current))))
          Files.write(dirPath.resolve(generationManifestName(current)),
            manifestText(dir, ManifestName).getBytes(StandardCharsets.UTF_8))
        publishManifest(dirPath, entries, current + 1, "restore",
          retain = true, eqDeletes = Some(eqs))
        sweepSegments(dirPath)
        current + 1
      }
    }
  }

  /** Drop `tag`; its generation becomes expirable again. Returns true
    * when the tag existed. */
  def dropTag(dir: String, tag: String): Boolean = {
    val dirPath = Paths.get(dir)
    withPublishLock(dirPath) {
      val tags = readTags(dir)
      if (!tags.contains(tag)) false
      else { writeTags(dirPath, tags - tag); true }
    }
  }

  /** Expire retained snapshots, keeping the most recent `keepLast`
    * generations (the current pointer always survives): drops the older
    * generation manifests and deletes every data file no RETAINED
    * manifest references — the deferred GC that retention mode trades
    * truncate-time deletion for. TAGGED generations are expiry-proof:
    * they stay resolvable (and keep their files) until the tag drops.
    * Returns (data files deleted, snapshot manifests dropped). */
  def expireSnapshots(dir: String, keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val dirPath = Paths.get(dir)
    withPublishLock(dirPath) {
      val current = committedGeneration(dir)
      val genRe = "manifest-g(\\d+)\\.json".r
      val ls = Files.list(dirPath)
      val gens =
        try ls.iterator().asScala().flatMap(p =>
          genRe.findFirstMatchIn(p.getFileName.toString)
            .map(_.group(1).toLong)).toSeq.sorted
        finally ls.close()
      val cutoff = current - keepLast + 1
      val tagged = readTags(dir).values.toSet
      val (drop, keep) = gens.partition(g => g < cutoff && !tagged.contains(g))
      // Lenient per-generation resolve: PRE-round-11 compaction deleted
      // merged-away files unconditionally (invalidating retained
      // generations); such a legacy generation may reference an
      // already-swept segment, and expire must still be able to CLEAN
      // IT UP, not wedge on it. An unreadable generation was already
      // unreadable for time travel, so treating its references as
      // empty loses nothing live. (Current compaction defers its GC on
      // retained tables, so new generations stay valid.)
      def entriesOf(g: Long): Seq[StagedFile] =
        try resolveEntries(dir, manifestText(dir, generationManifestName(g)))
        catch { case _: java.io.UncheckedIOException => Seq.empty }
      val referenced = (keep.map(entriesOf) :+
        committedEntries(dir)).flatten.flatMap(ownedNames).toSet
      val doomed = drop
        .flatMap(entriesOf)
        .flatMap(ownedNames).distinct
        .filterNot(referenced.contains)
      doomed.foreach(n => Files.deleteIfExists(dirPath.resolve(n)))
      drop.foreach(g =>
        Files.deleteIfExists(dirPath.resolve(generationManifestName(g))))
      // Segments referenced only by the dropped generations go with them.
      sweepSegments(dirPath)
      (doomed.size, drop.size)
    }
  }

  // Small seam: java Stream → scala Iterator without the full converters
  // import churn.
  private implicit final class JIter[A](private val it: java.util.Iterator[A]) {
    def asScala(): Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }
}

/** NDJSON value codec shared by the writer and the reader. Flat rows of
  * primitive/temporal/binary fields only — exactly what the sink's
  * payload contract supports; nested types are rejected before any task
  * launches. */
private[sources] object NdjsonCodec {
  sealed trait JsonVal
  case object JsonNull extends JsonVal
  final case class JsonStr(value: String) extends JsonVal
  /** Unquoted literal: number, boolean, or a non-finite double token. */
  final case class JsonTok(raw: String) extends JsonVal
  /** A NESTED value (object or array), carried as its raw JSON text —
    * struct columns round-trip through it ([[converter]] re-parses the
    * raw recursively), and unprojected nested values never reach it
    * (the tokenizers skip them structurally). */
  final case class JsonRaw(raw: String) extends JsonVal

  def supported(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | ByteType | ShortType | IntegerType |
         LongType | FloatType | DoubleType | DateType | TimestampType |
         BinaryType => true
    case _: DecimalType => true
    // Nested STRUCTS render as nested JSON objects (the reference's
    // natural payload is nested user JSON — users_etl.py:100-111).
    // ARRAYS render as JSON arrays and MAPS as JSON objects whose keys
    // are the rendered key values as strings (round 15 — a training
    // corpus's natural columns ARE token lists, embeddings, and tag
    // maps; see the embeddings table, TESTDATA.md). Stats/pruning/
    // bloom/partitioning stay scalar-only: statOrdering(nested) = None,
    // so nothing downstream ever claims a bound over one.
    case st: StructType => st.fields.forall(f => supported(f.dataType))
    case at: ArrayType => supported(at.elementType)
    case mt: MapType => keySupported(mt.keyType) && supported(mt.valueType)
    case _ => false
  }

  /** Map KEYS must render as unambiguous JSON object keys (strings):
    * every scalar payload type qualifies; nested keys do not. */
  def keySupported(dt: DataType): Boolean = dt match {
    case _: StructType | _: ArrayType | _: MapType => false
    case other => supported(other)
  }

  /** Full JSON string escape — backslash, quote, and EVERY control
    * character below 0x20 (`\n` would otherwise split one logical
    * record across two physical lines, breaking NDJSON framing). */
  def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Renderer for one field of the writer's schema, resolved once per
    * writer (Catalyst internal values in, JSON text out). */
  def renderer(dt: DataType): Any => String = dt match {
    case StringType => v => "\"" + escape(v.toString) + "\""
    case BooleanType | ByteType | ShortType | IntegerType | LongType =>
      v => v.toString
    case FloatType | DoubleType =>
      // NaN/Infinity render as bare tokens (the lenient-JSON convention
      // Spark's own reader accepts); finite values round-trip exactly
      // via Java's shortest-representation toString.
      v => v.toString
    case _: DecimalType => v => v.asInstanceOf[org.apache.spark.sql.types.Decimal]
      .toJavaBigDecimal.toPlainString
    case DateType => v =>
      "\"" + java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong) + "\""
    case TimestampType => v =>
      "\"" + java.time.Instant.EPOCH.plus(v.asInstanceOf[Long],
        java.time.temporal.ChronoUnit.MICROS) + "\""
    case BinaryType => v =>
      "\"" + java.util.Base64.getEncoder.encodeToString(
        v.asInstanceOf[Array[Byte]]) + "\""
    case st: StructType =>
      // Nested object, field-recursive. The value is an InternalRow
      // (the writer extracts with the declared struct type); null
      // fields render explicitly so the nested shape is stable.
      val fieldRs: Array[Any => String] = st.fields.map(f => renderer(f.dataType))
      v => {
        val row = v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        val sb = new java.lang.StringBuilder(64)
        sb.append('{')
        var i = 0
        while (i < st.fields.length) {
          if (i > 0) sb.append(',')
          sb.append('"').append(escape(st.fields(i).name)).append("\":")
          if (row.isNullAt(i)) sb.append("null")
          else sb.append(fieldRs(i)(row.get(i, st.fields(i).dataType)))
          i += 1
        }
        sb.append('}').toString
      }
    case at: ArrayType =>
      // JSON array, element-recursive over Catalyst ArrayData; null
      // elements render explicitly (containsNull round-trips).
      val er = renderer(at.elementType)
      v => {
        val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val sb = new java.lang.StringBuilder(64)
        sb.append('[')
        var i = 0
        val n = arr.numElements()
        while (i < n) {
          if (i > 0) sb.append(',')
          if (arr.isNullAt(i)) sb.append("null")
          else sb.append(er(arr.get(i, at.elementType)))
          i += 1
        }
        sb.append(']').toString
      }
    case mt: MapType =>
      // JSON object: keys are the rendered key values AS STRINGS (a
      // long key 42 renders "42"), values recurse. Catalyst map keys
      // are never null; null VALUES render explicitly.
      val kr = keyRenderer(mt.keyType)
      val vr = renderer(mt.valueType)
      v => {
        val map = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val ks = map.keyArray()
        val vs = map.valueArray()
        val sb = new java.lang.StringBuilder(64)
        sb.append('{')
        var i = 0
        val n = map.numElements()
        while (i < n) {
          if (i > 0) sb.append(',')
          sb.append(kr(ks.get(i, mt.keyType))).append(':')
          if (vs.isNullAt(i)) sb.append("null")
          else sb.append(vr(vs.get(i, mt.valueType)))
          i += 1
        }
        sb.append('}').toString
      }
    case other => throw new UnsupportedOperationException(
      s"ManifestSink NDJSON payload does not support type $other")
  }

  /** Renderer for a MAP KEY: the key value as a quoted JSON string —
    * string keys escape, scalar keys quote their token/string spelling
    * (the exact text [[keyConverter]] re-parses). */
  def keyRenderer(dt: DataType): Any => String = dt match {
    case StringType => v => "\"" + escape(v.toString) + "\""
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType => v => "\"" + v.toString + "\""
    case _: DecimalType => v =>
      "\"" + v.asInstanceOf[org.apache.spark.sql.types.Decimal]
        .toJavaBigDecimal.toPlainString + "\""
    // Date/Timestamp/Binary already render as quoted strings.
    case DateType | TimestampType | BinaryType => renderer(dt)
    case other => throw new UnsupportedOperationException(
      s"ManifestSink map keys do not support type $other")
  }

  /** Inverse of [[keyRenderer]]: decoded key string → Catalyst value. */
  def keyConverter(dt: DataType): String => Any = dt match {
    case StringType => s => UTF8String.fromString(s)
    case BooleanType => _.toBoolean
    case ByteType => _.toByte
    case ShortType => _.toShort
    case IntegerType => _.toInt
    case LongType => _.toLong
    case FloatType => _.toFloat
    case DoubleType => _.toDouble
    case d: DecimalType => s =>
      org.apache.spark.sql.types.Decimal(BigDecimal(s), d.precision, d.scale)
    case DateType => s => java.time.LocalDate.parse(s).toEpochDay.toInt
    case TimestampType => s => java.time.temporal.ChronoUnit.MICROS
      .between(java.time.Instant.EPOCH, java.time.Instant.parse(s))
    case BinaryType => s => java.util.Base64.getDecoder.decode(s)
    case other => throw new UnsupportedOperationException(
      s"ManifestSink map keys do not support type $other")
  }

  /** Converter from a parsed [[JsonVal]] back to the Catalyst internal
    * value of `dt` — the reader-side inverse of [[renderer]]. Strict:
    * a shape mismatch throws rather than silently nulling. */
  def converter(dt: DataType): JsonVal => Any = {
    val conv: JsonVal => Any = dt match {
      case StringType => { case JsonStr(s) => UTF8String.fromString(s)
        // StringType is also inference's CONSERVATIVE spelling:
        // heterogeneous arrays and type-conflicted columns infer as
        // StringType, so the converter must accept the raw JSON text
        // of arrays/objects and bare tokens rather than failing at
        // read what inference accepted at plan time.
        case JsonRaw(r) => UTF8String.fromString(r)
        case JsonTok(r) => UTF8String.fromString(r) }
      case BooleanType => { case JsonTok(r) => r.toBoolean
        case v => badShape(dt, v) }
      case ByteType => { case JsonTok(r) => r.toByte; case v => badShape(dt, v) }
      case ShortType => { case JsonTok(r) => r.toShort; case v => badShape(dt, v) }
      case IntegerType => { case JsonTok(r) => r.toInt; case v => badShape(dt, v) }
      case LongType => { case JsonTok(r) => r.toLong; case v => badShape(dt, v) }
      case FloatType => { case JsonTok(r) => r.toFloat; case v => badShape(dt, v) }
      case DoubleType => { case JsonTok(r) => r.toDouble
        case v => badShape(dt, v) }
      case d: DecimalType => { case JsonTok(r) =>
          org.apache.spark.sql.types.Decimal(BigDecimal(r), d.precision, d.scale)
        case v => badShape(dt, v) }
      case DateType => { case JsonStr(s) =>
          java.time.LocalDate.parse(s).toEpochDay.toInt
        case v => badShape(dt, v) }
      case TimestampType => { case JsonStr(s) =>
          java.time.temporal.ChronoUnit.MICROS
            .between(java.time.Instant.EPOCH, java.time.Instant.parse(s))
        case v => badShape(dt, v) }
      case BinaryType => { case JsonStr(s) =>
          java.util.Base64.getDecoder.decode(s)
        case v => badShape(dt, v) }
      case st: StructType =>
        // Re-parse the captured raw object and project the struct's
        // fields — which may be a PRUNED subset of what the payload
        // carries (nested schema pruning hands the reader exactly the
        // leaves the query touches): absent nested keys read null, the
        // same absent-key contract as top-level columns.
        val fieldCs: Array[JsonVal => Any] = st.fields.map(f => converter(f.dataType))
        val structConv: JsonVal => Any = {
          case JsonRaw(raw) if raw.nonEmpty && raw.charAt(0) == '{' =>
            val nested = parseLineSelect(raw, null)
            val vals = new Array[Any](st.fields.length)
            var i = 0
            while (i < st.fields.length) {
              vals(i) = nested.get(st.fields(i).name) match {
                case Some(v) => fieldCs(i)(v)
                case None => null
              }
              i += 1
            }
            new GenericInternalRow(vals)
          case v => badShape(dt, v)
        }
        structConv
      case at: ArrayType =>
        val ec = converter(at.elementType)
        val arrConv: JsonVal => Any = {
          case JsonRaw(raw) if raw.nonEmpty && raw.charAt(0) == '[' =>
            val elems = parseArray(raw)
            val out = new Array[Any](elems.length)
            var i = 0
            while (i < elems.length) { out(i) = ec(elems(i)); i += 1 }
            new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
          case v => badShape(dt, v)
        }
        arrConv
      case mt: MapType =>
        // Re-parse the captured raw object; keys re-parse under the
        // declared key type, values recurse. Writer-rendered maps have
        // unique keys; parseLine's last-wins merge matches JSON readers
        // for foreign files.
        val kc = keyConverter(mt.keyType)
        val vc = converter(mt.valueType)
        val mapConv: JsonVal => Any = {
          case JsonRaw(raw) if raw.nonEmpty && raw.charAt(0) == '{' =>
            val entries = parseLineSelect(raw, null)
            val ks = new Array[Any](entries.size)
            val vs = new Array[Any](entries.size)
            var i = 0
            entries.foreach { case (k, v) =>
              ks(i) = kc(k); vs(i) = vc(v); i += 1
            }
            new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
              new org.apache.spark.sql.catalyst.util.GenericArrayData(ks),
              new org.apache.spark.sql.catalyst.util.GenericArrayData(vs))
          case v => badShape(dt, v)
        }
        mapConv
      case other => throw new UnsupportedOperationException(
        s"ManifestSink NDJSON payload does not support type $other")
    }
    { case JsonNull => null; case v => conv(v) }
  }

  /** Ordering over the CATALYST value domain of `dt`, for writer-side
    * min/max tracking — None for types whose bounds the manifest does
    * not record (binary). */
  def statOrdering(dt: DataType): Option[Ordering[Any]] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType =>
      Some(Ordering.by((v: Any) => v.asInstanceOf[Number].longValue))
    case FloatType | DoubleType =>
      Some(Ordering.by((v: Any) => v.asInstanceOf[Number].doubleValue))
    case StringType =>
      Some(Ordering.by((v: Any) => v.asInstanceOf[UTF8String]))
    case _: DecimalType =>
      Some(Ordering.by((v: Any) =>
        v.asInstanceOf[org.apache.spark.sql.types.Decimal]))
    case BooleanType =>
      Some(Ordering.by((v: Any) => v.asInstanceOf[Boolean]))
    case _ => None
  }

  /** Manifest string-stat bound cap, in CODEPOINTS (parquet truncates
    * its column-index bounds the same way): without it, a text column's
    * min/max embed the two extreme documents wholesale in every
    * manifest entry — a 1 MB document makes a 2 MB entry that every
    * subsequent commit re-parses and re-renders. */
  val StatLen = 64

  /** Lower bound under truncation: any codepoint-prefix of the minimum
    * is ≤ it in UTF8String byte order (and every other order that has
    * the prefix property), so plain truncation stays a valid lower
    * bound. Never splits a surrogate pair. */
  def truncLower(s: String): String =
    if (s.codePointCount(0, s.length) <= StatLen) s
    else s.substring(0, s.offsetByCodePoints(0, StatLen))

  /** Upper bound under truncation: a prefix alone would UNDERSTATE the
    * max, so the last prefix codepoint is incremented (skipping the
    * surrogate range — the manifest must stay valid UTF-8), carrying
    * left while the increment overflows U+10FFFF; None if no finite
    * bound exists at this length (prefix all U+10FFFF) — the caller
    * then drops the stat, costing pruning, never correctness. */
  def truncUpper(s: String): Option[String] = {
    if (s.codePointCount(0, s.length) <= StatLen) return Some(s)
    val cps = new Array[Int](StatLen)
    var i = 0; var off = 0
    while (i < StatLen) {
      cps(i) = s.codePointAt(off); off += Character.charCount(cps(i)); i += 1
    }
    var j = StatLen - 1
    while (j >= 0) {
      var c = cps(j) + 1
      if (c >= 0xD800 && c <= 0xDFFF) c = 0xE000
      if (c <= 0x10FFFF) {
        cps(j) = c
        return Some(new String(cps, 0, j + 1))
      }
      j -= 1
    }
    None
  }

  def isNaN(v: Any): Boolean = v match {
    case d: java.lang.Double => d.isNaN
    case f: java.lang.Float => f.isNaN
    case _ => false
  }

  private def badShape(dt: DataType, v: JsonVal): Nothing =
    throw new IllegalArgumentException(
      s"NDJSON value $v does not match expected type $dt")

  /** Parse one NDJSON object (the writer's output shape) into
    * key → value. Handles the full string-escape set including \\uXXXX;
    * nested objects/arrays come back as [[JsonRaw]] (struct columns —
    * their converter re-parses the raw recursively). */
  def parseLine(line: String): collection.Map[String, JsonVal] =
    parseLineSelect(line, null)

  /** Parse one JSON ARRAY (a captured [[JsonRaw]] starting with '[')
    * into its element [[JsonVal]]s — the array-column converter's front
    * half. Nested objects/arrays come back as [[JsonRaw]] for their own
    * element converters; escape handling matches [[parseLineSelect]]. */
  def parseArray(line: String): Vector[JsonVal] = {
    val out = Vector.newBuilder[JsonVal]
    var i = 0
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"bad JSON array at offset $i ($msg): $line")
    def ws(): Unit = while (i < line.length && line.charAt(i) <= ' ') i += 1
    def str(): String = {
      i += 1 // opening quote (caller checked)
      val sb = new java.lang.StringBuilder
      while (i < line.length && line.charAt(i) != '"') {
        val c = line.charAt(i)
        if (c == '\\') {
          i += 1
          if (i >= line.length) fail("truncated escape")
          line.charAt(i) match {
            case '"' => sb.append('"')
            case '\\' => sb.append('\\')
            case '/' => sb.append('/')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' =>
              if (i + 4 >= line.length) fail("truncated \\u escape")
              sb.append(Integer.parseInt(line.substring(i + 1, i + 5), 16).toChar)
              i += 4
            case o => fail(s"bad escape \\$o")
          }
        } else sb.append(c)
        i += 1
      }
      if (i >= line.length) fail("unterminated string")
      i += 1
      sb.toString
    }
    def skipStr(): Unit = {
      i += 1
      while (i < line.length && line.charAt(i) != '"') {
        if (line.charAt(i) == '\\') {
          i += 1
          if (i >= line.length) fail("truncated escape")
        }
        i += 1
      }
      if (i >= line.length) fail("unterminated string")
      i += 1
    }
    def scanNested(): Unit = {
      var depth = 0
      var first = true
      while ((depth > 0 || first) && i < line.length) {
        first = false
        val c = line.charAt(i)
        if (c == '"') skipStr()
        else {
          if (c == '{' || c == '[') depth += 1
          else if (c == '}' || c == ']') depth -= 1
          i += 1
        }
      }
      if (depth != 0) fail("unterminated nested value")
    }
    ws()
    if (i >= line.length || line.charAt(i) != '[') fail("expected '['")
    i += 1
    ws()
    if (i < line.length && line.charAt(i) == ']') return out.result()
    var done = false
    while (!done) {
      ws()
      if (i >= line.length) fail("truncated array")
      out += (line.charAt(i) match {
        case '"' => JsonStr(str())
        case '{' | '[' =>
          val s0 = i
          scanNested()
          JsonRaw(line.substring(s0, i))
        case _ =>
          val s0 = i
          while (i < line.length && line.charAt(i) != ',' &&
              line.charAt(i) != ']') i += 1
          val raw = line.substring(s0, i).trim
          if (raw == "null") JsonNull else JsonTok(raw)
      })
      ws()
      if (i >= line.length) fail("truncated array")
      line.charAt(i) match {
        case ',' => i += 1
        case ']' => i += 1; done = true
        case _ => fail("expected ',' or ']'")
      }
    }
    out.result()
  }

  /** BYTE-LEVEL projection-aware parse — the scan hot path. Works
    * directly on the raw UTF-8 line: every structural byte (quote,
    * brace, colon, comma, backslash) is ASCII, and UTF-8 multi-byte
    * sequences never contain ASCII bytes, so tokenizing bytes is
    * encoding-safe WITHOUT decoding the line to a String first. That
    * decode was the hidden O(row width) tax on every narrow
    * projection: with it gone, a 2-of-22-column scan allocates and
    * decodes only the two needed values (plus equality-delete keys) —
    * the reader's CPU tracks the projection, not the row.
    *
    * `needed` maps key byte-sequences to their canonical column-name
    * strings (build once per reader via [[neededKeyBytes]]); keys not
    * in it are skipped structurally, matched keys reuse the canonical
    * string (zero per-row key allocation on the happy path). */
  def parseBytesSelect(line: Array[Byte],
      needed: NeededKeys): collection.Map[String, JsonVal] = {
    val m = collection.mutable.LinkedHashMap[String, JsonVal]()
    var i = 0
    val n = line.length
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"bad NDJSON at byte $i ($msg): " +
        new String(line, java.nio.charset.StandardCharsets.UTF_8))
    def ws(): Unit = while (i < n && (line(i) & 0xFF) <= ' ') i += 1
    def expect(c: Char): Unit = {
      ws()
      if (i >= n || line(i) != c.toByte) fail(s"expected '$c'")
      i += 1
    }
    // Scan a string body from AFTER its opening quote to its closing
    // quote; returns (start, endExclusive, sawEscape) with `i` past the
    // closing quote.
    def scanStr(): (Int, Int, Boolean) = {
      val start = i
      var esc = false
      while (i < n && line(i) != '"') {
        if (line(i) == '\\') {
          esc = true
          i += 1
          if (i >= n) fail("truncated escape")
        }
        i += 1
      }
      if (i >= n) fail("unterminated string")
      val end = i
      i += 1
      (start, end, esc)
    }
    def decode(start: Int, end: Int, esc: Boolean): String = {
      val s = new String(line, start, end - start,
        java.nio.charset.StandardCharsets.UTF_8)
      if (esc) unescape(s) else s
    }
    // Walk one NESTED value (object/array) from its opening byte to
    // just past its closing one — string-aware (structural bytes inside
    // string literals are data). Used to capture a projected struct's
    // raw text and to skip unprojected nested values structurally.
    def scanNested(): Unit = {
      var depth = 0
      var first = true
      while ((depth > 0 || first) && i < n) {
        first = false
        val c = line(i)
        if (c == '"') { i += 1; scanStr() }
        else {
          if (c == '{' || c == '[') depth += 1
          else if (c == '}' || c == ']') depth -= 1
          i += 1
        }
      }
      if (depth != 0) fail("unterminated nested value")
    }
    expect('{')
    ws()
    if (i < n && line(i) == '}') return m
    var done = false
    while (!done) {
      expect('"')
      val (ks, ke, kesc) = scanStr()
      // Canonical-string key lookup over raw bytes — no decode, no
      // allocation when the key is skipped (the wide-row common case).
      val canon =
        if (kesc) {
          val k = decode(ks, ke, kesc)
          if (needed == null) k else needed.canonical(k)
        } else if (needed == null) decode(ks, ke, esc = false)
        else needed.canonical(line, ks, ke - ks)
      expect(':')
      ws()
      if (i >= n) fail("truncated value")
      if (canon != null) {
        val v = line(i).toChar match {
          case '"' =>
            i += 1
            val (vs, ve, vesc) = scanStr()
            JsonStr(decode(vs, ve, vesc))
          case '{' | '[' =>
            val s0 = i
            scanNested()
            JsonRaw(new String(line, s0, i - s0,
              java.nio.charset.StandardCharsets.UTF_8))
          case _ =>
            val s0 = i
            while (i < n && line(i) != ',' && line(i) != '}') i += 1
            var e0 = i
            while (e0 > s0 && (line(e0 - 1) & 0xFF) <= ' ') e0 -= 1
            if (e0 - s0 == 4 && line(s0) == 'n' && line(s0 + 1) == 'u' &&
                line(s0 + 2) == 'l' && line(s0 + 3) == 'l') JsonNull
            else JsonTok(new String(line, s0, e0 - s0,
              java.nio.charset.StandardCharsets.UTF_8))
        }
        m(canon) = v
      } else line(i).toChar match {
        case '"' => i += 1; scanStr()
        case '{' | '[' => scanNested() // structural skip, zero alloc
        case _ => while (i < n && line(i) != ',' && line(i) != '}') i += 1
      }
      ws()
      if (i >= n) fail("truncated object")
      line(i).toChar match {
        case ',' => i += 1
        case '}' => i += 1; done = true
        case _ => fail("expected ',' or '}'")
      }
    }
    m
  }

  /** Unescape a JSON string body (quotes stripped, escapes intact). */
  private[sources] def unescape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\') {
        i += 1
        if (i >= s.length) throw new IllegalArgumentException(
          s"truncated escape in: $s")
        s.charAt(i) match {
          case '"' => sb.append('"')
          case '\\' => sb.append('\\')
          case '/' => sb.append('/')
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case 't' => sb.append('\t')
          case 'b' => sb.append('\b')
          case 'f' => sb.append('\f')
          case 'u' =>
            if (i + 4 >= s.length) throw new IllegalArgumentException(
              s"truncated \\u escape in: $s")
            sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar)
            i += 4
          case o => throw new IllegalArgumentException(s"bad escape \\$o")
        }
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** Needed-key byte index for [[parseBytesSelect]]: canonical column
    * names pre-encoded to UTF-8, looked up by raw byte region so the
    * per-row key walk allocates nothing. Linear probe over a small
    * array — read schemas are narrow (that is the point), and a length
    * pre-check rejects most misses in one compare. */
  final class NeededKeys(names: Seq[String]) {
    private val canon: Array[String] = names.distinct.toArray
    private val bytes: Array[Array[Byte]] =
      canon.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    /** Canonical name for the raw key bytes, or null (skip). */
    def canonical(line: Array[Byte], off: Int, len: Int): String = {
      var j = 0
      while (j < bytes.length) {
        val b = bytes(j)
        if (b.length == len) {
          var k = 0
          while (k < len && b(k) == line(off + k)) k += 1
          if (k == len) return canon(j)
        }
        j += 1
      }
      null
    }
    /** Decoded-key variant (escaped keys — the rare path). */
    def canonical(key: String): String = {
      var j = 0
      while (j < canon.length) {
        if (canon(j) == key) return canon(j)
        j += 1
      }
      null
    }
  }

  /** PROJECTION-AWARE parse: materialize ONLY the keys in `needed`
    * (null = all — [[parseLine]]'s shape). Unneeded values are SKIPPED
    * structurally — a string value scans to its closing quote with
    * escape tracking but builds nothing; a token scans to the next
    * delimiter — so a 2-column projection over a wide-row corpus pays
    * O(line bytes) for the scan but O(projected bytes) for the
    * expensive part (StringBuilder/unescape/boxing). At 100 TB this is
    * the difference between the reader CPU tracking the PROJECTION and
    * tracking the full row width. Key strings still parse (membership
    * needs them) — keys are short identifiers; values dominate. */
  def parseLineSelect(line: String,
      needed: java.util.Set[String]): collection.Map[String, JsonVal] = {
    val m = collection.mutable.LinkedHashMap[String, JsonVal]()
    var i = 0
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"bad NDJSON at offset $i ($msg): $line")
    def ws(): Unit = while (i < line.length && line.charAt(i) <= ' ') i += 1
    def expect(c: Char): Unit = {
      ws()
      if (i >= line.length || line.charAt(i) != c) fail(s"expected '$c'")
      i += 1
    }
    def str(): String = {
      expect('"')
      val sb = new java.lang.StringBuilder
      while (i < line.length && line.charAt(i) != '"') {
        val c = line.charAt(i)
        if (c == '\\') {
          i += 1
          if (i >= line.length) fail("truncated escape")
          line.charAt(i) match {
            case '"' => sb.append('"')
            case '\\' => sb.append('\\')
            case '/' => sb.append('/')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'u' =>
              if (i + 4 >= line.length) fail("truncated \\u escape")
              sb.append(Integer.parseInt(line.substring(i + 1, i + 5), 16).toChar)
              i += 4
            case o => fail(s"bad escape \\$o")
          }
        } else sb.append(c)
        i += 1
      }
      if (i >= line.length) fail("unterminated string")
      i += 1
      sb.toString
    }
    // Skip a string value WITHOUT materializing: same escape-state walk,
    // no StringBuilder, no unescape. A skipped \uXXXX needs no decode —
    // only the quote state matters.
    def skipStr(): Unit = {
      expect('"')
      while (i < line.length && line.charAt(i) != '"') {
        if (line.charAt(i) == '\\') {
          i += 1
          if (i >= line.length) fail("truncated escape")
        }
        i += 1
      }
      if (i >= line.length) fail("unterminated string")
      i += 1
    }
    // Walk one nested value (object/array), string-aware — the String
    // twin of parseBytesSelect's scanNested.
    def scanNested(): Unit = {
      var depth = 0
      var first = true
      while ((depth > 0 || first) && i < line.length) {
        first = false
        val c = line.charAt(i)
        if (c == '"') skipStr()
        else {
          if (c == '{' || c == '[') depth += 1
          else if (c == '}' || c == ']') depth -= 1
          i += 1
        }
      }
      if (depth != 0) fail("unterminated nested value")
    }
    expect('{')
    ws()
    if (i < line.length && line.charAt(i) == '}') return m
    var done = false
    while (!done) {
      val k = str()
      expect(':')
      ws()
      if (i >= line.length) fail("truncated value")
      val keep = needed == null || needed.contains(k)
      if (keep) {
        val v = line.charAt(i) match {
          case '"' => JsonStr(str())
          case '{' | '[' =>
            val s0 = i
            scanNested()
            JsonRaw(line.substring(s0, i))
          case _ =>
            val s0 = i
            while (i < line.length && line.charAt(i) != ',' && line.charAt(i) != '}')
              i += 1
            val raw = line.substring(s0, i).trim
            if (raw == "null") JsonNull else JsonTok(raw)
        }
        m(k) = v
      } else line.charAt(i) match {
        case '"' => skipStr()
        case '{' | '[' => scanNested() // structural skip
        case _ =>
          while (i < line.length && line.charAt(i) != ',' && line.charAt(i) != '}')
            i += 1
      }
      ws()
      if (i >= line.length) fail("truncated object")
      line.charAt(i) match {
        case ',' => i += 1
        case '}' => i += 1; done = true
        case _ => fail("expected ',' or '}'")
      }
    }
    m
  }
}

private[sources] class ManifestTable(path: String, tableSchema: StructType,
    travelVersion: Option[Long] = None, tablePartCols: Seq[String] = Nil,
    tableProps: Map[String, String] = Map.empty)
    extends Table with SupportsWrite with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"manifest_sink($path)"
  override def schema(): StructType = tableSchema

  /** The committed manifest generation, reported as the connector
    * table version (round-17). This is what makes `ALTER TABLE … ADD
    * CONSTRAINT` race-safe: Spark stamps the version it VALIDATED
    * against into `TableChange.AddConstraint.validatedTableVersion`,
    * and [[GraftCatalog.alterTable]] refuses the meta swap if the
    * generation advanced past it — a writer that resolved the table
    * before the constraint existed (so its write plan carries no CHECK
    * validation) can no longer slip violating rows in between the
    * validation scan and the swap. Time-travel reads report the pinned
    * generation. */
  override def version(): String =
    travelVersion.getOrElse(ManifestSink.cachedGeneration(path)).toString

  /** `_file` (Iceberg's spelling): the committed data file a row lives
    * in, served as a plan-time constant per partition. Queryable in
    * its own right (`SELECT _file, count(*) ... GROUP BY _file` is the
    * debugging view of file skipping) and the join key of row-level
    * runtime group filtering. Shadowed by a real payload column of the
    * same name, per the metadata-column contract. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val file =
      if (tableSchema.fieldNames.contains(ManifestSink.FileColumn)) Nil
      else Seq(new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = ManifestSink.FileColumn
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "name of the committed data file holding the row"
      })
    // `_pos` completes the (_file, _pos) row identity — the rowId of
    // the merge-on-read DELETE, and independently queryable (the
    // debugging view of deletion vectors). Byte offsets, not ordinals:
    // they survive split reads.
    val pos =
      if (tableSchema.fieldNames.contains(ManifestSink.PosColumn)) Nil
      else Seq(new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = ManifestSink.PosColumn
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "byte offset of the row's first byte within its data file"
      })
    (file ++ pos).toArray
  }

  /** SQL row-level DML (`DELETE` needing a rewrite, `UPDATE`,
    * `MERGE INTO`) through the group-based copy-on-write machinery —
    * see [[GraftRowLevelOperation]]. Metadata-only DELETEs still take
    * the [[SupportsDelete]] fast path (Spark's
    * OptimizeMetadataOnlyDeleteFromTable asks [[canDeleteWhere]]
    * first). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(travelVersion.isEmpty,
      s"cannot ${info.command()} a versionAsOf/timestampAsOf read of $path")
    // Tables that opt in (`deletionvectors=true`) take the MERGE-ON-READ
    // path for DELETE and UPDATE: a positional delete writes a tiny
    // sidecar of row offsets instead of rewriting whole files — at
    // 100 TB, a 1-row DELETE must not copy a 1 GB file — UPDATE
    // vector-deletes the old positions while appending only the
    // replacement rows, and MERGE is the same per clause (matched
    // update = delete+insert, matched delete = offsets, not-matched
    // insert = plain append). Whole-file deletes still take the
    // metadata-only SupportsDelete fast path first.
    val dvs = tableProps.get("deletionvectors").exists(_.toBoolean)
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    () =>
      if (dvs && (info.command() == Command.DELETE ||
          info.command() == Command.UPDATE ||
          info.command() == Command.MERGE))
        new GraftPositionDeltaOperation(path, tableSchema, tablePartCols,
          tableProps, info.command())
      else new GraftRowLevelOperation(path, tableSchema, tablePartCols,
        tableProps, info.command())
  }
  /** `mergeschema=true` (TBLPROPERTIES on catalog tables, write option
    * on path tables) additionally declares ACCEPT_ANY_SCHEMA: Spark's
    * analyzer stands down from output-column validation for this table
    * and the connector takes over ([[SchemaEvolution.resolveWrite]]) —
    * re-validating what the analyzer would have, and evolving the
    * table's schema in the same commit when the written DataFrame adds
    * or widens columns. Off by default: non-evolving tables keep
    * Spark's full analysis-time validation and implicit casts. */
  override def capabilities(): util.Set[TableCapability] = {
    val caps =
      util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.STREAMING_WRITE, TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ, TableCapability.OVERWRITE_DYNAMIC)
    if (tableProps.get("mergeschema").exists(_.toBoolean))
      caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    // MERGE INTO ... WITH SCHEMA EVOLUTION (round-17): Spark's
    // ResolveMergeIntoSchemaEvolution consults this capability, routes
    // the source's new/widened columns through the catalog's own
    // alterTable (AddColumn / widening UpdateColumnType — the a51/a55
    // machinery) and re-resolves the merge against the evolved table.
    // Declared UNCONDITIONALLY: it activates only on the explicit
    // `WITH SCHEMA EVOLUTION` clause, so plain writes and merges are
    // untouched. NOTE the deliberate split from `mergeschema`:
    // ACCEPT_ANY_SCHEMA makes Spark's ResolveReferences skip merge
    // resolution entirely (the analyzer returns the MergeIntoTable
    // untouched for skipSchemaResolution relations), so SQL MERGE —
    // plain or evolving — cannot work on a mergeschema table at all;
    // [[GraftSparkExtensions]] turns that cryptic unresolved-column
    // failure into a loud, actionable error.
    caps.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    caps
  }

  /** ANSI table constraints, re-hydrated from their persisted
    * properties ([[GraftCatalog.renderConstraint]]). Reporting them is
    * what makes Spark's analyzer ENFORCE check constraints on every
    * write to this table — a violating row fails the job before any
    * file stages — and what DESCRIBE / SHOW CREATE TABLE render. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    tableProps.toSeq
      .filter(_._1.startsWith(GraftCatalog.ConstraintPropPrefix))
      .sortBy(_._1)
      .flatMap(kv => GraftCatalog.parseConstraint(kv._2))
      .toArray

  /** Metadata-only DELETE (the Iceberg/Delta fast path): a file is
    * droppable when its manifest stats PROVE every row matches the
    * conjunction ([[ManifestStats.mustMatch]]) and ignorable when they
    * prove no row can ([[!ManifestStats.mayMatch]]). Any file in
    * between (partial overlap) would need a data rewrite — this table
    * refuses, and Spark surfaces the refusal at analysis, exactly the
    * contract `canDeleteWhere` exists for. Partition-aligned layouts
    * (partitionBy writes → min == max partition bounds) make the
    * common `DELETE WHERE part = x` always metadata-only. */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    travelVersion.isEmpty && ManifestSink.committedEntries(path).forall { e =>
      filters.forall(f => ManifestStats.mustMatch(tableSchema, e, f)) ||
        filters.exists(f => !ManifestStats.mayMatch(tableSchema, e, f))
    }

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    require(travelVersion.isEmpty, "cannot DELETE from a versionAsOf read")
    val dir = Paths.get(path)
    ManifestSink.withPublishLock(dir) {
      val entries = ManifestSink.committedEntries(path)
      val (dropped, kept) = entries.partition(e =>
        filters.forall(f => ManifestStats.mustMatch(tableSchema, e, f)))
      // Defensive re-check under the lock (entries may have changed
      // since canDeleteWhere): a kept file that may still match has
      // rows this delete would need to rewrite — refuse loudly rather
      // than delete too little silently.
      val partial = kept.filter(e =>
        filters.forall(f => ManifestStats.mayMatch(tableSchema, e, f)))
      if (partial.nonEmpty)
        throw new UnsupportedOperationException(
          s"DELETE needs a data rewrite for ${partial.map(_.name).mkString(", ")}" +
            " (stats cannot prove all-match); only metadata-only deletes are" +
            " supported — align files to the delete predicate (partitionBy)" +
            " or delete whole partitions")
      if (dropped.nonEmpty) {
        val gen = ManifestSink.committedGeneration(path)
        // A table with retained history keeps dropped files on disk for
        // time travel until expireSnapshots collects them.
        val retain = ManifestSink.hasRetainedGenerations(path)
        ManifestSink.publishManifest(dir, kept, gen + 1, "delete", retain)
        ManifestSink.sweepSegments(dir)
        if (!retain)
          dropped.flatMap(ManifestSink.ownedNames)
            .foreach(n => Files.deleteIfExists(dir.resolve(n)))
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // Connector-side output resolution (see [[SchemaEvolution.resolveWrite]]).
    // For a table WITHOUT `mergeschema` this is an identity pass — Spark's
    // analyzer already matched the query to the table schema. For an
    // ACCEPT_ANY_SCHEMA table the analyzer stood down, so this is where
    // names resolve (by-name, or positionally for the INSERT VALUES
    // shape), token-compatible types are accepted, and additions/widens
    // are planned for the commit to apply atomically with the data.
    val mergeAllowed = tableProps.get("mergeschema").exists(_.toBoolean) ||
      info.options().getBoolean("mergeschema", false)
    // PATH-routed writes (df.write / writeStream with a path option) see
    // the QUERY's schema as external table metadata, so an evolving
    // write must resolve against the PERSISTED schema instead — the
    // catalog metadata at the directory, when one exists (a streaming
    // sink pointed at a catalog table's directory evolves it exactly
    // like an INSERT; a pure path table has nothing to evolve).
    val (resolveAgainst, resolveProps) =
      if (!mergeAllowed) (tableSchema, tableProps)
      else try {
        if (Files.exists(Paths.get(path, "_table.json"))) {
          val (s, _, p) = GraftCatalog.readMeta(Paths.get(path))
          (s, p)
        } else (tableSchema, tableProps)
      } catch { case _: Exception => (tableSchema, tableProps) }
    val tablePartColsParsed = PartSpec.parseAll(tablePartCols)
    val resolution = SchemaEvolution.resolveWrite(info.schema(), resolveAgainst,
      SchemaEvolution.logNames(SchemaEvolution.parseLog(resolveProps)),
      mergeAllowed,
      tablePartColsParsed.collect { case BucketPart(_, c) => c }.toSet,
      name())
    val writeSchema = resolution.writeSchema
    // Fail BEFORE any task launches on a schema the payload format
    // cannot carry faithfully (post-resolution: matched NullType columns
    // have adopted their table type by now).
    val bad = writeSchema.fields.filterNot(f => NdjsonCodec.supported(f.dataType))
    require(bad.isEmpty,
      s"ManifestSink NDJSON payload supports primitive/temporal/binary, " +
        s"STRUCT, ARRAY, and MAP (scalar-keyed) columns; unsupported: " +
        bad.map(f => s"${f.name}: ${f.dataType}").mkString(", "))
    // Nested-leaf stats/kmv/bloom entries are keyed by the DOTTED
    // spelling ('a.b'), sharing the manifest key space with top-level
    // column names — a literal top-level column named "a.b" alongside a
    // struct leaf a.b would consult one column's bounds for the other.
    // Refuse the ambiguity before any task launches.
    val dotted = writeSchema.fields.filter(_.name.contains("."))
    require(dotted.isEmpty,
      s"ManifestSink column names may not contain '.' (reserved for " +
        s"nested-leaf stat paths): " + dotted.map(_.name).mkString(", "))
    // retainHistory=true keeps every generation's manifest (and, under
    // truncate, the retired data files) for versionAsOf reads, until
    // expireSnapshots collects them — Iceberg's snapshot model, lite.
    // Catalog tables default it from TBLPROPERTIES (SQL INSERT has no
    // per-write options).
    val retain = info.options().getBoolean("retainhistory",
      tableProps.get("retainhistory").exists(_.toBoolean))
    // autoCompactRows > 0 bounds the manifest on the STREAMING path:
    // each epoch commit bin-packs prior sub-threshold files (never the
    // epoch just committed — a replay must still find its own entries
    // to retire), so entries stop accreting one per (epoch×partition)
    // forever. Ignored in retention mode, where older generations still
    // reference the files compaction would delete.
    val autoCompact = info.options().getLong("autocompactrows", 0L)
    // maxSegments bounds the two-level manifest's segment list: append
    // commits write O(delta) until the list reaches this, then one
    // commit collapses to a single segment (amortized O(total/max)).
    val maxSegments = info.options().getInt("maxsegments",
      ManifestSink.DefaultMaxSegments)
    // Partitioned writes: one file per partition TUPLE per task, whose
    // min == max manifest bounds make the existing file skipping an
    // EXACT partition pruner. Columns come from the write option (the
    // path-based `.save()` route) or the table definition (catalog /
    // `partitionBy` transforms); the option wins when both are set.
    // replaceFiles (internal, mergeInto's write half): this commit
    // RETIRES the named committed files in the same manifest swap that
    // publishes its own — the copy-on-write contract (read subset,
    // rewrite, atomically swap old for new). Each token is `name` or
    // `name=dvSidecar` — the deletion vector the PLANNER saw; the
    // commit fails loudly if a file's vector changed since (a
    // concurrent merge-on-read delete the rewrite did not read).
    val replaceFiles: Map[String, Option[String]] =
      Option(info.options().get("replacefiles"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).map { tok =>
          tok.split("=", 2) match {
            case Array(n, d) => n -> Some(d)
            case arr => arr(0) -> None
          }
        }.toMap)
        .getOrElse(Map.empty[String, Option[String]])
    val partCols = Option(info.options().get("partitionby"))
      .map(PartSpec.splitList)
      .getOrElse(tablePartCols)
    PartSpec.parseAll(partCols).foreach { sp =>
      val fld = writeSchema.fields.find(_.name == sp.col)
      require(fld.isDefined,
        s"partitionBy column '${sp.col}' is not in the written schema")
      sp match {
        case _: IdentityPart =>
          require(NdjsonCodec.statOrdering(fld.get.dataType).isDefined,
            s"partitionBy column '${sp.col}' (${fld.get.dataType}) is not " +
              "orderable — partition pruning needs min/max bounds")
        case _: BucketPart => // any supported type hashes
      }
    }
    val distribute = Option(info.options().get("distributionmode"))
      .orElse(tableProps.get("distributionmode"))
      .exists(_.equalsIgnoreCase("hash"))
    // `sortBy` (write option or table property, comma list): the write
    // declares a required per-task ASC NULLS FIRST ordering, so every
    // written file is physically sorted and stamps `sorted` in its
    // manifest entry — which is what lets scans report the order back
    // (SupportsReportOrdering) and a sort-merge join skip its sorts.
    val sortBy = Option(info.options().get("sortby"))
      .orElse(tableProps.get("sortby"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    sortBy.foreach(c => require(writeSchema.fields.exists(_.name == c),
      s"sortBy column '$c' is not in the written schema"))
    // Identity columns ([[GraftIdentity]]): stored values are
    // placeholders until commit — nothing value-derived may consume
    // them at write time. CREATE validates the table-property
    // spellings; write OPTIONS are re-checked here.
    ManifestSink.identityAt(path).foreach { sp =>
      require(!sortBy.contains(sp.col),
        s"IDENTITY column '${sp.col}' cannot be a sortBy column")
      require(!PartSpec.parseAll(partCols).exists(_.col == sp.col),
        s"IDENTITY column '${sp.col}' cannot be a partition column")
    }
    // `bloomColumns` (write option or table property, comma list):
    // every written file carries a bloom sidecar over these columns,
    // so point lookups skip files whose index proves the value absent
    // (see [[BloomIndex]]). Validated loudly here — a typo'd column
    // would otherwise silently index nothing forever.
    val bloomCols = Option(info.options().get("bloomcolumns"))
      .orElse(tableProps.get("bloomcolumns"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    bloomCols.foreach { c =>
      // Top-level column or dotted nested-leaf path — both index.
      val fld = ManifestStats.fieldAt(writeSchema, c)
      require(fld.isDefined,
        s"bloomColumns column '$c' is not in the written schema " +
          "(top-level name or dotted struct-leaf path)")
      require(BloomIndex.supported(fld.get.dataType),
        s"bloomColumns column '$c' (${fld.get.dataType}) is not " +
          "bloom-indexable — integral, string, date and timestamp only " +
          "(float/double/decimal equality is not a point-lookup shape)")
      require(!ManifestSink.identityAt(path).exists(_.col == c),
        s"IDENTITY column '$c' cannot be bloom-indexed (stored minted " +
          "values are placeholders — the index would skip files that " +
          "contain the looked-up id)")
    }
    new ManifestWriteBuilder(path, writeSchema, info.queryId(),
      truncate = false, retain = retain, autoCompactRows = autoCompact,
      maxSegments = maxSegments, partCols = partCols,
      replaceFiles = () => replaceFiles,
      distributeByPartition = distribute,
      txnStage = Option(info.options().get("txnstage")).filter(_.nonEmpty),
      sortBy = sortBy,
      commitTag = Option(info.options().get("committag")).filter(_.nonEmpty),
      bloomCols = bloomCols,
      newCols = resolution.newCols, widens = resolution.widens,
      // What the ANALYZER saw: this table object's constraints() (from
      // tableProps) is exactly the set Spark planted validation for.
      // A path-routed write into a constrained catalog directory sees
      // none of them — truthfully Some(empty) — and its commit now
      // fails instead of silently bypassing enforcement.
      plannedChecks = Some(GraftCatalog.enforcedCheckKeys(tableProps)))
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ManifestScanBuilder(path, tableSchema, travelVersion,
      options.getLong("maxsplitbytes", 128L * 1024 * 1024),
      Option(options.get("maxgenerationspertrigger")).map(_.toLong),
      Option(options.get("filesubset"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet),
      options.getBoolean("readchangefeed", false),
      Option(options.get("startingversion")).map(_.toLong),
      Option(options.get("endingversion")).map(_.toLong),
      // Catalog tables declare partition columns in metadata; the
      // path-based reader takes them as a read option (same spelling
      // as the write side) — wrong declarations cannot corrupt: a file
      // that fails to PROVE its single tuple downgrades the scan to
      // unknown partitioning.
      if (tablePartCols.nonEmpty) tablePartCols
      else Option(options.get("partitionby"))
        .map(PartSpec.splitList).getOrElse(Nil))
}

/** Read side: committed files ONLY — the manifest is the read barrier.
  * One [[InputPartition]] per committed file (executor-parallel), column
  * pruning via [[SupportsPushDownRequiredColumns]], FILE SKIPPING
  * against the manifest's per-file min/max bounds
  * ([[SupportsPushDownFilters]] — the parquet row-group-skipping idea at
  * file granularity: a filter outside a file's recorded range means the
  * file is never opened, planned, or fetched), and exact row-count
  * statistics straight from the manifest. Every filter is also returned
  * as residual, so Spark re-applies it row-level: skipping is a pure
  * optimization, never a correctness dependency. */
private[sources] class ManifestScanBuilder(path: String, full: StructType,
    version: Option[Long] = None,
    maxSplitBytes: Long = 128L * 1024 * 1024,
    maxGensPerTrigger: Option[Long] = None,
    fileSubset: Option[Set[String]] = None,
    changeFeed: Boolean = false,
    startingVersion: Option[Long] = None,
    endingVersion: Option[Long] = None,
    partCols: Seq[String] = Nil,
    rowLevel: Option[ScanRecorder] = None,
    // Expose the `_file` runtime-filter attribute — the delta-based
    // (deletion-vector) operations want runtime file pruning; they
    // record the scanned set too, but only for conflict validation,
    // never as a wholesale retire set.
    fileFilter: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
  private var required: StructType = full
  private var pushed: Array[sources.Filter] = Array.empty
  private var aggResult: Option[(StructType, Array[InternalRow])] = None
  private var headLimit: Option[Int] = None
  private var topNSpec: Option[(String, Boolean, Int)] = None

  // ----- LIMIT / TOP-N PUSHDOWN: plan only the file PREFIX that covers
  // the asked-for rows. Always PARTIAL (Spark keeps its own
  // Sort/Limit — the scan only ever returns a provable superset), so
  // correctness never depends on the pruning. Spark attempts these
  // only when no post-scan filter remains, and this source keeps every
  // filter residual, so a WHERE always takes the normal path; the
  // remaining special scans (CDF, row-level, keyed/partitioned,
  // incremental) stand down here. At 100 TB this is the difference
  // between `ORDER BY ts LIMIT 100` planning one file of a
  // time-sorted table and planning the table.
  private def headEligible: Boolean =
    !changeFeed && startingVersion.isEmpty && endingVersion.isEmpty &&
      fileSubset.isEmpty && rowLevel.isEmpty && !fileFilter &&
      maxGensPerTrigger.isEmpty && partCols.isEmpty

  override def pushLimit(limit: Int): Boolean =
    if (!headEligible || limit <= 0) false
    else { headLimit = Some(limit); true }

  override def isPartiallyPushed(): Boolean = true

  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    if (!headEligible || limit <= 0 || orders.isEmpty) return false
    orders.head.expression() match {
      // Pruning is on the PRIMARY sort key only (lexicographic order:
      // any row whose first key is strictly above the coverage cutoff
      // cannot be in the top N); Spark re-sorts the planned superset
      // on the full key list. Only exact-bound stat types can prove
      // the cutoff — strings truncate, everything else stands down.
      case r: org.apache.spark.sql.connector.expressions.NamedReference =>
        val col = r.fieldNames().mkString(".")
        val exact = ManifestStats.fieldAt(full, col).map(_.dataType).exists {
          case ByteType | ShortType | IntegerType | LongType | FloatType |
              DoubleType | DateType | TimestampType | _: DecimalType => true
          case _ => false
        }
        if (!exact) false
        else {
          import org.apache.spark.sql.connector.expressions.SortDirection
          topNSpec = Some((col,
            orders.head.direction() == SortDirection.DESCENDING, limit))
          true
        }
      case _ => false
    }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters.filter(ManifestStats.prunable)
    filters // all residual — row-level semantics stay with Spark
  }
  override def pushedFilters(): Array[sources.Filter] = pushed

  // ----- AGGREGATE PUSHDOWN: `SELECT count(*) / count(c) / min(c) /
  // max(c) FROM t` answered from MANIFEST STATS — zero data bytes
  // read. At 100 TB this turns a full-corpus row count into one
  // driver-side metadata fold (the same entries every plan already
  // resolves). Strictly sound-or-stand-down: any condition that makes
  // a stat inexact (a deletion vector that might hold the extremum or
  // hide a null, a pending equality delete, truncated string bounds,
  // NaN, a missing per-file stat, incremental/CDF reads, row-level
  // operation scans) refuses the pushdown and the normal scan runs.
  // Spark only attempts this when NO filter remains post-scan, and
  // this source keeps every filter residual (pruning is may-match,
  // never exact), so a WHERE clause always takes the normal path.

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = computeAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    aggResult = computeAgg(agg)
    aggResult.isDefined
  }

  private def computeAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[InternalRow])] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (pushed.nonEmpty || changeFeed || startingVersion.isDefined ||
        endingVersion.isDefined || fileSubset.isDefined ||
        rowLevel.isDefined || fileFilter ||
        maxGensPerTrigger.isDefined) return None
    val txt = try ManifestSink.manifestTextAt(path, version)
      catch { case _: Exception => return None }
    // A pending equality delete is applied at read — every live count
    // and bound is unknowable without reading the data. Stand down.
    if (ManifestSink.parseEqDeletes(txt).nonEmpty) return None
    val entries = ManifestSink.resolveEntries(path, txt)
    // GROUP BY pushdown: allowed only over IDENTITY partition columns
    // where EVERY file proves its single tuple value (recorded
    // partValues, or the exact min == max + zero-nulls stat proof) —
    // then files group exactly by tuple and each group aggregates like
    // the global case. `SELECT lang, count(*) ... GROUP BY lang` on a
    // lang-partitioned corpus becomes one metadata fold.
    val groupCols: Seq[String] = agg.groupByExpressions().toSeq.map {
      case f: org.apache.spark.sql.connector.expressions.NamedReference
          if f.fieldNames().length == 1 => f.fieldNames()(0)
      case _ => return None
    }
    val identityParts = PartSpec.parseAll(partCols).collect {
      case IdentityPart(c) => c
    }.toSet
    if (!groupCols.forall(identityParts.contains)) return None
    def tupleValue(e: StagedFile, c: String): Option[(String, Any)] = {
      val fld = full.fields.find(_.name == c).getOrElse(return None)
      e.partValues.get(c) match {
        case Some(raw) if raw != "null" =>
          scala.util.Try(NdjsonCodec.converter(fld.dataType)(
            NdjsonCodec.parseLine(s"""{"v":$raw}""")("v"))).toOption
            .map(v => raw -> v)
        case _ => e.stats.find(_.col == c) match {
          case Some(st) if st.min == st.max && !st.hasNan &&
              e.nullCounts.get(c).contains(0L) =>
            scala.util.Try(NdjsonCodec.converter(fld.dataType)(
              NdjsonCodec.parseLine(s"""{"v":${st.min}}""")("v"))).toOption
              .map(v => st.min -> v)
          case _ => None
        }
      }
    }
    val grouped: Seq[(Seq[Any], Seq[StagedFile])] =
      if (groupCols.isEmpty) Seq((Nil, entries))
      else {
        val keyed = entries.map { e =>
          val vals = groupCols.map(c => tupleValue(e, c))
          if (vals.exists(_.isEmpty)) return None // unprovable tuple
          (vals.map(_.get._1).mkString("\u0000"),
            vals.map(_.get._2), e)
        }
        keyed.groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (_, g) => (g.head._2, g.map(_._3)) }
      }
    def colName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      // Multi-segment references are nested struct leaves, spelled the
      // way the writer records leaf stats ("u.geo.lat") — min/max fold
      // from those bounds exactly like top-level columns.
      case f: org.apache.spark.sql.connector.expressions.NamedReference =>
        Some(f.fieldNames().mkString("."))
      case _ => None
    }
    // Exact-bound column types: integral values round-trip their stat
    // tokens losslessly; float/double bounds are exact unless NaN was
    // seen (NaN poisons min/max ordering); DATE/TIMESTAMP render as
    // fixed-length ISO strings and DECIMAL as plain decimal tokens —
    // all far below the 64-codepoint stat cap, so their recorded
    // bounds are the exact extremes, not truncations, and
    // `min(ship_date)` over a 100 TB table is a metadata fold too.
    // Free-form STRINGS are the one string-rendered type that DOES
    // truncate (sound for pruning, wrong for min/max) — they stand
    // down, as does anything else unproven.
    def minMaxValue(ge: Seq[StagedFile], col: String,
        wantMin: Boolean): Option[(DataType, Any)] = {
      val dt = ManifestStats.fieldAt(full, col).map(_.dataType).getOrElse(
        return None)
      if (ge.exists(_.dv.isDefined)) return None // deleted row may BE the extremum
      if (ge.isEmpty) return Some((dt, null))
      val bounds = ge.map { e =>
        e.stats.find(_.col == col) match {
          case Some(st) if !st.hasNan => Some(if (wantMin) st.min else st.max)
          case _ => None
        }
      }
      if (bounds.exists(_.isEmpty)) return None // a file without the stat
      // Temporal/decimal bounds re-enter through the SAME typed
      // converter the row reader uses, so the folded extremum is
      // byte-identical to what a full scan would compute.
      def viaConverter(b: String): Option[Any] =
        scala.util.Try(NdjsonCodec.converter(dt)(
          NdjsonCodec.parseLine(s"""{"v":$b}""")("v"))).toOption
          .filter(_ != null)
      val vals: Seq[Any] = dt match {
        case ByteType => bounds.map(b => b.get.toByte)
        case ShortType => bounds.map(b => b.get.toShort)
        case IntegerType => bounds.map(b => b.get.toInt)
        case LongType => bounds.map(b => b.get.toLong)
        case FloatType => bounds.map(b => b.get.toFloat)
        case DoubleType => bounds.map(b => b.get.toDouble)
        case DateType | TimestampType | _: DecimalType =>
          val parsed = bounds.map(b => viaConverter(b.get))
          if (parsed.exists(_.isEmpty)) return None // unparsable token
          parsed.map(_.get)
        case _ => return None
      }
      val ord: Ordering[Any] = dt match {
        case ByteType => Ordering.Byte.asInstanceOf[Ordering[Any]]
        case ShortType => Ordering.Short.asInstanceOf[Ordering[Any]]
        case IntegerType => Ordering.Int.asInstanceOf[Ordering[Any]]
        case LongType => Ordering.Long.asInstanceOf[Ordering[Any]]
        case FloatType =>
          Ordering.Float.TotalOrdering.asInstanceOf[Ordering[Any]]
        case DoubleType =>
          Ordering.Double.TotalOrdering.asInstanceOf[Ordering[Any]]
        // Catalyst domains: Date = Int epoch days, Timestamp = Long
        // micros, Decimal = org.apache.spark.sql.types.Decimal.
        case DateType => Ordering.Int.asInstanceOf[Ordering[Any]]
        case TimestampType => Ordering.Long.asInstanceOf[Ordering[Any]]
        case _: DecimalType =>
          Ordering.by((v: Any) =>
            v.asInstanceOf[org.apache.spark.sql.types.Decimal])
        case _ => return None
      }
      Some((dt, if (wantMin) vals.min(ord) else vals.max(ord)))
    }
    // One group's aggregate values — the global case is the single
    // group with no key.
    def aggValues(ge: Seq[StagedFile]): Option[Seq[(DataType, Any)]] = {
      val dvInGroup = ge.exists(_.dv.isDefined)
      val resolved: Seq[Option[(DataType, Any)]] =
        agg.aggregateExpressions().toSeq.map {
          case _: CountStar =>
            // live = rows − dvRows: exact even under deletion vectors.
            Some((LongType, ge.map(_.liveRows).sum): (DataType, Any))
          case c: Count if !c.isDistinct =>
            colName(c.column()).flatMap { col =>
              if (!full.fields.exists(_.name == col)) None
              // Physical null counts pair with PHYSICAL rows: a vector
              // may have deleted null or non-null rows — unknowable.
              else if (dvInGroup) None
              else if (ge.forall(_.nullCounts.contains(col)))
                Some((LongType,
                  ge.map(e => e.rows - e.nullCounts(col)).sum)
                  : (DataType, Any))
              else None
            }
          case m: Min =>
            colName(m.column()).flatMap(minMaxValue(ge, _, true))
          case m: Max =>
            colName(m.column()).flatMap(minMaxValue(ge, _, false))
          case _ => None // Sum/Avg/distinct/UDAF: not provable from stats
        }
      if (resolved.exists(_.isEmpty)) None else Some(resolved.map(_.get))
    }
    val perGroup: Seq[(Seq[Any], Seq[(DataType, Any)])] =
      grouped.map { case (key, ge) =>
        aggValues(ge) match {
          case Some(vals) => (key, vals)
          case None => return None
        }
      }
    // Contract: the scan's output lists group-by columns FIRST, then
    // the aggregate columns, one row per group.
    val groupFields = groupCols.map(c =>
      full.fields.find(_.name == c).get.copy(nullable = true))
    val aggFields =
      (if (perGroup.nonEmpty) perGroup.head._2
       else aggValues(Nil).getOrElse(return None))
        .zipWithIndex.map { case ((dt, _), i) =>
          StructField(s"agg_$i", dt, nullable = true)
        }
    val rows: Array[InternalRow] =
      if (groupCols.isEmpty && perGroup.isEmpty)
        // Global aggregate over an empty table still yields one row.
        Array(new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(aggValues(Nil).get.map(_._2).toArray))
      else perGroup.map { case (key, vals) =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          (key ++ vals.map(_._2)).toArray): InternalRow
      }.toArray
    Some((StructType(groupFields ++ aggFields), rows))
  }

  override def build(): Scan = aggResult match {
    case Some((schema, aggRows)) =>
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[InternalRow] = aggRows
        override def readSchema(): StructType = schema
        override def description(): String =
          s"GraftManifestAggPushdown($path)"
      }
    case None =>
      new ManifestScan(path, full, required, pushed, version, maxSplitBytes,
        maxGensPerTrigger, fileSubset, changeFeed, startingVersion,
        endingVersion, partCols, rowLevel, fileFilter, headLimit, topNSpec)
  }
}

/** File-skipping decision logic: can a file whose column bounds are
  * `entry.stats` possibly contain a row matching `filter`? Conservative
  * in every uncertain direction — unknown column, missing stats,
  * un-normalizable literal, unsupported predicate all answer "yes". */
private[sources] object ManifestStats {
  import sources._

  /** Resolve a pushed filter's attribute name against the table schema
    * — a TOP-LEVEL column by exact name first (a literal dot in a real
    * column name always wins), else a DOTTED NESTED-LEAF path walked
    * segment by segment through struct fields (Spark pushes nested-leaf
    * predicates as `EqualTo("u.geo.lat", v)` through the V1 Filter API;
    * writers record matching leaf bounds under the same spelling). */
  private[sources] def fieldAt(full: StructType, path: String)
      : Option[StructField] =
    full.fields.find(_.name == path).orElse {
      val segs = path.split('.')
      if (segs.length < 2) None
      else {
        var cur = full.fields.find(_.name == segs.head)
        var i = 1
        while (i < segs.length && cur.isDefined) {
          cur = cur.get.dataType match {
            case st: StructType => st.fields.find(_.name == segs(i))
            case _ => None
          }
          i += 1
        }
        cur
      }
    }

  def prunable(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: In |
         _: IsNull | _: IsNotNull => true
    case And(a, b) => prunable(a) || prunable(b)
    case Or(a, b) => prunable(a) && prunable(b)
    case Not(a) => prunable(a)
    case _ => false
  }

  /** Compare a stat bound (Catalyst domain) against a filter literal
    * (external/Java domain); None = not comparable → no pruning. */
  private def compare(dt: DataType, stat: Any, litVal: Any): Option[Int] =
    dt match {
      case ByteType | ShortType | IntegerType | LongType => litVal match {
        case n: Number => Some(java.lang.Long.compare(
          stat.asInstanceOf[Number].longValue, n.longValue))
        case _ => None
      }
      case FloatType | DoubleType => litVal match {
        case n: Number => Some(java.lang.Double.compare(
          stat.asInstanceOf[Number].doubleValue, n.doubleValue))
        case _ => None
      }
      case _: DecimalType => litVal match {
        case n: java.math.BigDecimal =>
          Some(stat.asInstanceOf[org.apache.spark.sql.types.Decimal]
            .toJavaBigDecimal.compareTo(n))
        case n: Number =>
          Some(stat.asInstanceOf[org.apache.spark.sql.types.Decimal]
            .toJavaBigDecimal
            .compareTo(new java.math.BigDecimal(n.toString)))
        case _ => None
      }
      case StringType => litVal match {
        // UTF8String BYTE order on both sides — the same order the
        // writer's stat tracking used, so a java-String code-unit
        // comparison can't disagree with the recorded bounds on
        // supplementary characters.
        case s: String =>
          Some(stat.asInstanceOf[UTF8String].compareTo(UTF8String.fromString(s)))
        case s: UTF8String =>
          Some(stat.asInstanceOf[UTF8String].compareTo(s))
        case _ => None
      }
      case DateType =>
        val days = litVal match {
          case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
          case d: java.time.LocalDate => Some(d.toEpochDay)
          case _ => None
        }
        days.map(d => java.lang.Long.compare(
          stat.asInstanceOf[Number].longValue, d))
      case TimestampType =>
        val micros = litVal match {
          case t: java.sql.Timestamp =>
            Some(math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
          case t: java.time.Instant =>
            Some(java.time.temporal.ChronoUnit.MICROS
              .between(java.time.Instant.EPOCH, t))
          case _ => None
        }
        micros.map(m => java.lang.Long.compare(
          stat.asInstanceOf[Number].longValue, m))
      case _ => None
    }

  def mayMatch(full: StructType, entry: StagedFile, f: Filter): Boolean = {
    def bounds(c: String): Option[(Any, Any, DataType)] = for {
      fld <- fieldAt(full, c)
      st <- entry.stats.find(_.col == c)
    } yield {
      val conv = NdjsonCodec.converter(fld.dataType)
      (conv(NdjsonCodec.parseLine(s"""{"v":${st.min}}""")("v")),
        conv(NdjsonCodec.parseLine(s"""{"v":${st.max}}""")("v")),
        fld.dataType)
    }
    // cmpLo/cmpHi: sign of (bound - literal), None when unprunable.
    // A column flagged hasNan holds NaN rows the bounds exclude — and
    // Spark orders NaN ABOVE everything (NaN = NaN is true, NaN > x for
    // every non-NaN x), so the recorded max is NOT an upper bound: the
    // file's effective max is NaN, and upper-bound pruning must stand
    // down. The min is unaffected (NaN can never be the minimum).
    def cmpLo(c: String, v: Any): Option[Int] =
      bounds(c).flatMap { case (lo, _, dt) => compare(dt, lo, v) }
    def cmpHi(c: String, v: Any): Option[Int] =
      if (entry.stats.exists(s => s.col == c && s.hasNan)) None
      else bounds(c).flatMap { case (_, hi, dt) => compare(dt, hi, v) }
    f match {
      case EqualTo(c, v) =>
        !(cmpLo(c, v).exists(_ > 0) || cmpHi(c, v).exists(_ < 0))
      case GreaterThan(c, v) => !cmpHi(c, v).exists(_ <= 0)
      case GreaterThanOrEqual(c, v) => !cmpHi(c, v).exists(_ < 0)
      case LessThan(c, v) => !cmpLo(c, v).exists(_ >= 0)
      case LessThanOrEqual(c, v) => !cmpLo(c, v).exists(_ > 0)
      case _: AlwaysTrue => true
      case _: AlwaysFalse => false
      case In(c, vs) =>
        vs.isEmpty || vs.exists(v => mayMatch(full, entry, EqualTo(c, v)))
      // Null-count pruning (needs recorded counts; unknown → keep).
      case IsNull(c) => !entry.nullCounts.get(c).contains(0L)
      case IsNotNull(c) => !entry.nullCounts.get(c).contains(entry.rows)
      // De Morgan duality: NOT f may match unless EVERY row matches f.
      case Not(a) => !mustMatch(full, entry, a)
      case And(a, b) =>
        mayMatch(full, entry, a) && mayMatch(full, entry, b)
      case Or(a, b) =>
        mayMatch(full, entry, a) || mayMatch(full, entry, b)
      case _ => true
    }
  }

  /** The dual of [[mayMatch]]: does EVERY row of the file provably
    * match `f`? This is what makes a DELETE metadata-only — an
    * all-match file's entry is dropped without rewriting data.
    * Conservative in every uncertain direction: unknown null counts,
    * missing bounds, NaN presence, truncated string bounds (min < max
    * after truncation never proves equality), unsupported predicates
    * all answer "no" — a false negative costs a rewrite refusal, a
    * false positive would delete live rows. Null semantics: a NULL row
    * never satisfies a comparison, so every column predicate first
    * requires a RECORDED zero null count. */
  def mustMatch(full: StructType, entry: StagedFile, f: Filter): Boolean = {
    def bounds(c: String): Option[(Any, Any, DataType)] = for {
      fld <- fieldAt(full, c)
      st <- entry.stats.find(_.col == c)
    } yield {
      val conv = NdjsonCodec.converter(fld.dataType)
      (conv(NdjsonCodec.parseLine(s"""{"v":${st.min}}""")("v")),
        conv(NdjsonCodec.parseLine(s"""{"v":${st.max}}""")("v")),
        fld.dataType)
    }
    def noNulls(c: String): Boolean = entry.nullCounts.get(c).contains(0L)
    def noNan(c: String): Boolean = !entry.stats.exists(s => s.col == c && s.hasNan)
    // String bounds are TRUNCATED at write time, so min == max can hold
    // even though the file's real values differ beyond the cap; only
    // un-truncated bounds (strictly shorter than the cap) prove equality.
    def exactEq(c: String, v: Any): Boolean = bounds(c).exists {
      case (lo, hi, dt) =>
        compare(dt, lo, v).contains(0) && compare(dt, hi, v).contains(0) &&
          (dt != StringType ||
            lo.asInstanceOf[UTF8String].numChars() < NdjsonCodec.StatLen)
    }
    def cmpLo(c: String, v: Any): Option[Int] =
      bounds(c).flatMap { case (lo, _, dt) => compare(dt, lo, v) }
    def cmpHi(c: String, v: Any): Option[Int] =
      bounds(c).flatMap { case (_, hi, dt) => compare(dt, hi, v) }
    f match {
      // NaN rows are excluded from bounds yet ordered ABOVE every value
      // by Spark: they'd satisfy > / >= but not = / < / <= — each case
      // stands down where NaN could flip a row's verdict.
      case EqualTo(c, v) => noNulls(c) && noNan(c) && exactEq(c, v)
      case GreaterThan(c, v) => noNulls(c) && cmpLo(c, v).exists(_ > 0)
      case GreaterThanOrEqual(c, v) => noNulls(c) && cmpLo(c, v).exists(_ >= 0)
      case LessThan(c, v) => noNulls(c) && noNan(c) && cmpHi(c, v).exists(_ < 0)
      case LessThanOrEqual(c, v) =>
        noNulls(c) && noNan(c) && cmpHi(c, v).exists(_ <= 0)
      // TRUNCATE arrives as DELETE WHERE AlwaysTrue — every row of
      // every file trivially matches.
      case _: AlwaysTrue => true
      case _: AlwaysFalse => false
      case In(c, vs) => vs.exists(v => mustMatch(full, entry, EqualTo(c, v)))
      case IsNull(c) => entry.nullCounts.get(c).contains(entry.rows)
      case IsNotNull(c) => noNulls(c)
      // Three-valued NOT: a NULL operand row satisfies neither `a` nor
      // NOT `a` (NOT(NULL) is NULL, not TRUE), so !mayMatch(a) — which
      // only proves no row makes `a` TRUE — cannot alone prove every
      // row makes NOT `a` TRUE. Additionally require a RECORDED zero
      // null count on every column `a` references (Iceberg's strict
      // evaluator makes the same demand); without it, a metadata-only
      // DELETE WHERE c <> v would silently destroy the NULL rows,
      // which the delete must keep.
      case Not(a) => a.references.forall(noNulls) && !mayMatch(full, entry, a)
      case And(a, b) =>
        mustMatch(full, entry, a) && mustMatch(full, entry, b)
      case Or(a, b) =>
        mustMatch(full, entry, a) || mustMatch(full, entry, b)
      case _ => false
    }
  }
}

private[sources] class ManifestScan(path: String, full: StructType,
    required: StructType,
    private[sources] val pushed: Array[sources.Filter] = Array.empty,
    version: Option[Long] = None,
    maxSplitBytes: Long = 128L * 1024 * 1024,
    maxGensPerTrigger: Option[Long] = None,
    fileSubset: Option[Set[String]] = None,
    changeFeed: Boolean = false,
    startingVersion: Option[Long] = None,
    endingVersion: Option[Long] = None,
    partCols: Seq[String] = Nil,
    rowLevel: Option[ScanRecorder] = None,
    fileFilter: Boolean = false,
    headLimit: Option[Int] = None,
    topNSpec: Option[(String, Boolean, Int)] = None)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** SORTED SCANS (SupportsReportOrdering): when every planned file is
    * stamped with the SAME physical sort (a `sortBy` write or a
    * `cluster` rewrite), report it — a downstream sort-merge join (or
    * sort-based aggregate) then skips its per-partition sorts
    * entirely; composed with the key-grouped partitioning report this
    * is the zero-shuffle AND zero-sort join. Sound-or-stand-down:
    *  - every byte-range split of a sorted file is itself sorted, and
    *    deletion vectors / equality deletes only DROP rows, so neither
    *    breaks the claim;
    *  - a KEY-GROUPED scan may CONCATENATE same-key partitions into
    *    one task, so ordering is only claimed when each key resolves
    *    to a single split (one file, unsplit) — the post-cluster /
    *    hash-distributed shape;
    *  - incremental/CDF replays, runtime-filtered row-level scans and
    *    pruned-away ordering columns stand down. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    if (changeFeed || startingVersion.isDefined) return Array.empty
    val entries = survivingEntries
    if (entries.isEmpty) return Array.empty
    val sorted = entries.head.sorted
    if (sorted.isEmpty || !entries.forall(_.sorted == sorted))
      return Array.empty
    if (!sorted.forall(c => required.fieldNames.contains(c)))
      return Array.empty
    keyedEntries match {
      case Some(keyed) =>
        val oneSplitPerKey =
          keyed.groupBy(_._3).forall(_._2.size == 1) &&
            entries.forall(e => fileSize(e) <= maxSplitBytes)
        if (!oneSplitPerKey) return Array.empty
      case None => () // standalone splits: each is sorted on its own
    }
    sorted.map(c => Expressions.sort(Expressions.column(c),
      SortDirection.ASCENDING)).toArray
  }

  /** RUNTIME group filtering for row-level operations (Iceberg's
    * copy-on-write shape): Spark evaluates the command condition in a
    * subquery projecting `_file` over a regular scan of the table,
    * then hands the matching file names here as an IN predicate — the
    * rewrite touches exactly the files holding matching rows even
    * when the condition is not statically pushable (a MERGE keyed on
    * source values prunes nothing at plan time, everything here).
    * Conservative: an unrecognized predicate shape filters nothing. */
  @volatile private var runtimeFileSubset: Option[Set[String]] = None

  /** vintage → current column names and current → vintage candidates
    * of the table's rename log ([[SchemaEvolution]]) — resolved once
    * per scan, identity-empty for never-renamed tables. */
  private lazy val renameMap: Map[String, String] =
    SchemaEvolution.currentNamesAt(path)
  private lazy val aliasCands: Map[String, Seq[String]] =
    SchemaEvolution.aliases(renameMap)

  /** Columns bloom-indexed on at least one committed entry of the
    * scanned snapshot — these are runtime-prunable even when min/max
    * bounds are useless (interleaved high-cardinality values). */
  private lazy val bloomedCols: Seq[String] =
    try ManifestSink.resolveEntries(path,
        ManifestSink.manifestTextAt(path, version))
      .flatMap(_.bloomCols).distinct
    catch { case _: Exception => Nil }

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (rowLevel.isDefined || fileFilter)
      Array(org.apache.spark.sql.connector.expressions.Expressions.column(
        ManifestSink.FileColumn))
    else if (changeFeed || startingVersion.isDefined) Array.empty
    else
      // DYNAMIC FILE PRUNING (the DSv2 dynamic-partition-pruning
      // shape): report the columns whose runtime IN-sets this scan can
      // actually prune on — partition-transform sources (identity
      // bounds / bucket ids) and bloom-indexed columns. Spark's
      // PartitionPruning rule then plants a DPP subquery on a
      // fact-dim join keyed by one of these, and [[filter]] receives
      // the dim side's surviving keys at runtime — a selective dim
      // filter prunes fact FILES no static predicate could. At 100 TB
      // this is the difference between scanning a full fact table and
      // opening only the joined partitions.
      (partSpecs.map(_.col) ++ bloomedCols).distinct
        .filter(c => full.fieldNames.contains(c))
        .map(c => org.apache.spark.sql.connector.expressions.Expressions
          .column(c): org.apache.spark.sql.connector.expressions.NamedReference)
        .toArray

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    def isFileRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case r: NamedReference =>
          r.fieldNames().sameElements(Array(ManifestSink.FileColumn))
        case _ => false
      }
    def names(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
        : Option[Set[String]] = p.name() match {
      case "IN" if p.children().nonEmpty && isFileRef(p.children()(0)) =>
        Some(p.children().drop(1).collect {
          case l: Literal[_] => String.valueOf(l.value())
        }.toSet)
      case "=" if p.children().length == 2 && isFileRef(p.children()(0)) =>
        p.children()(1) match {
          case l: Literal[_] => Some(Set(String.valueOf(l.value())))
          case _ => None
        }
      case _ => None
    }
    val sets = predicates.flatMap(names)
    if (sets.nonEmpty) runtimeFileSubset = Some(sets.reduce(_ intersect _))
    // Runtime DATA filters (dynamic file pruning): an =/IN on a
    // reported data column re-enters the SAME planning stack the
    // static pushdown uses — bounds (mayMatch), bucket ids, blooms —
    // so every pruning proof the format knows is applied to the
    // runtime key set too. Unrecognized shapes filter nothing.
    val dataFs = predicates.flatMap(toV1Runtime)
    if (dataFs.nonEmpty) runtimeDataFilters = dataFs
  }

  @volatile private var runtimeDataFilters: Array[sources.Filter] =
    Array.empty

  /** Catalyst-domain literal (what connector [[Literal]]s carry) to
    * the external/Java domain `sources.Filter` values use; None =
    * un-convertible, drop the filter (conservative). */
  private def catalystToExternal(dt: DataType, v: Any): Option[Any] =
    if (v == null) None
    else dt match {
      case StringType => Some(String.valueOf(v))
      case DateType => v match {
        case d: java.lang.Integer =>
          Some(java.time.LocalDate.ofEpochDay(d.longValue))
        case _ => None
      }
      case TimestampType => v match {
        case t: java.lang.Long => Some(java.time.Instant.ofEpochSecond(
          Math.floorDiv(t.longValue, 1000000L),
          Math.floorMod(t.longValue, 1000000L) * 1000L))
        case _ => None
      }
      case _: DecimalType => v match {
        case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
        case _ => None
      }
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType => v match {
        case n: Number => Some(n)
        case _ => None
      }
      case _ => None
    }

  private def toV1Runtime(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[sources.Filter] = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames().length == 1 &&
          r.fieldNames()(0) != ManifestSink.FileColumn =>
        full.fields.find(_.name == r.fieldNames()(0)).map(_.name)
      case _ => None
    }
    p.name() match {
      case "IN" if p.children().nonEmpty =>
        colOf(p.children()(0)).flatMap { c =>
          val dt = full.fields.find(_.name == c).get.dataType
          val vs = p.children().drop(1).map {
            case l: Literal[_] => catalystToExternal(dt, l.value())
            case _ => None
          }
          if (vs.isEmpty || vs.exists(_.isEmpty)) None
          else Some(sources.In(c, vs.map(_.get)))
        }
      case "=" if p.children().length == 2 =>
        for {
          c <- colOf(p.children()(0))
          l <- p.children()(1) match {
            case l: Literal[_] => Some(l)
            case _ => None
          }
          v <- catalystToExternal(
            full.fields.find(_.name == c).get.dataType, l.value())
        } yield sources.EqualTo(c, v)
      case _ => None
    }
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(version.isEmpty, "cannot stream a versionAsOf read")
    new ManifestMicroBatchStream(path, full, required, pushed, maxSplitBytes,
      maxGensPerTrigger, changeFeed)
  }

  /** Entries surviving file skipping — with SEGMENT-level skipping
    * first (the manifest-list idea): each segment reference's summary
    * rollup is tested against the pushed filters, and a segment no
    * entry of which can match is never READ — on an object store that
    * is one metadata fetch saved per pruned segment per query, the same
    * O(surviving) planning Iceberg gets from manifest-list bounds.
    * Summary-less references (legacy pointers) are always read;
    * entry-level skipping then re-tests every entry, so segment
    * skipping is a pure optimization on top. */
  /** Bucket pruning: an equality/IN literal on a bucket-partitioned
    * column keeps only the files whose recorded bucket id matches the
    * literal's hash — the point-lookup win a bucketed layout exists
    * for (bounds can't help: every bucket file spans the domain).
    * Conservative everywhere else: unknown types, missing recorded
    * ids, non-equality shapes all keep the file. */
  private def bucketKeep(e: StagedFile, f: sources.Filter): Boolean = {
    def toCatalyst(dt: DataType, v: Any): Option[Any] = (dt, v) match {
      case (LongType, n: Number) => Some(n.longValue())
      case (IntegerType, n: Number) => Some(n.intValue())
      case (StringType, s: String) => Some(UTF8String.fromString(s))
      case _ => None
    }
    def litMatches(c: String, v: Any): Boolean = {
      // PARTITION-SPEC EVOLUTION: bucket specs that can prove anything
      // about THIS file are the table's CURRENT spec plus every spec
      // the file itself recorded a tuple value under — the partValues
      // keys literally encode the spec each file was written with
      // ("bucket(4,doc_id)"), so after an evolution each era keeps
      // pruning under its OWN spec: old files via their old bucket
      // (or identity bounds), new files via the new one. A spec with
      // no recorded value on this file proves nothing (conservative
      // keep); a recorded value that excludes the literal prunes.
      val specs = (PartSpec.parseAll(partCols) ++
        PartSpec.parseAll(e.partValues.keys.toSeq)).distinct
      specs.forall {
        case bp @ BucketPart(n, col) if col == c =>
          (e.partValues.get(bp.name).flatMap(r => scala.util.Try(r.toInt).toOption),
            full.fields.find(_.name == c)) match {
            case (Some(b), Some(fld)) =>
              toCatalyst(fld.dataType, v)
                .forall(cv => GraftBucket.bucket(n, cv, fld.dataType) == b)
            case _ => true
          }
        case _ => true
      }
    }
    f match {
      case sources.EqualTo(c, v) => litMatches(c, v)
      case sources.In(c, vs) => vs.isEmpty || vs.exists(v => litMatches(c, v))
      case sources.And(a, b) => bucketKeep(e, a) && bucketKeep(e, b)
      case sources.Or(a, b) => bucketKeep(e, a) || bucketKeep(e, b)
      case _ => true
    }
  }

  // Observability counters (SQL UI custom metrics): entries EXAMINED
  // during planning (inline + read-segment entries; wholesale-skipped
  // segments' entries are exactly the ones never counted because never
  // read) vs entries PLANNED. Set during planning, reported by
  // reportDriverMetrics after planInputPartitions.
  @volatile private var examinedEntries = 0L
  @volatile private var plannedEntries = 0L

  /** Bloom-index file skipping: an =/IN literal on an indexed column
    * whose per-file bloom proves the value absent drops the file —
    * the point-lookup win on columns whose values interleave across
    * files (bounds keep everything, the bloom does not). The sidecar
    * is loaded lazily (only for entries that survived every cheaper
    * proof AND only when the filter actually touches an indexed
    * column) through [[BloomIndex.load]]'s driver soft cache.
    * Conservative everywhere else: unindexed column, missing sidecar,
    * un-normalizable literal, non-equality shapes all keep the file.
    * Sound under merge-on-read: DVs and equality deletes only DROP
    * rows, so absent-from-physical implies absent-from-live. */
  private def bloomKeep(e: StagedFile, f: sources.Filter): Boolean = {
    if (e.bloomCols.isEmpty) return true
    lazy val blooms = BloomIndex.load(path, e.name)
    def litAbsent(c: String, v: Any): Boolean =
      e.bloomCols.contains(c) && {
        // Sidecars written before a RENAME record the vintage column
        // name — resolve through the alias candidates. Hashing is
        // width-normalized, so a post-WIDEN literal still matches a
        // pre-widen sidecar. fieldAt: nested-leaf indexes resolve their
        // dotted path.
        ManifestStats.fieldAt(full, c).map(_.dataType).exists(dt =>
          BloomIndex.supported(dt) &&
            BloomIndex.hashPairExternal(dt, v).exists { h =>
              // Dotted leaf names also resolve their TOP segment's
              // vintage spellings (prefix rename rule).
              val dot = c.indexOf('.')
              val cands = (c +: aliasCands.getOrElse(c, Nil)).iterator ++
                (if (dot < 0) Iterator.empty
                 else aliasCands.getOrElse(c.substring(0, dot), Nil)
                   .iterator.map(_ + c.substring(dot)))
              cands.flatMap(blooms.get(_)).nextOption()
                .exists(b => !b.mightContain(h))
            })
      }
    f match {
      case sources.EqualTo(c, v) => !litAbsent(c, v)
      case sources.In(c, vs) => vs.isEmpty || vs.exists(v => !litAbsent(c, v))
      case sources.And(a, b) => bloomKeep(e, a) && bloomKeep(e, b)
      case sources.Or(a, b) => bloomKeep(e, a) || bloomKeep(e, b)
      case _ => true
    }
  }

  private def survivingEntries: Seq[StagedFile] = {
    // Static pushdown plus whatever runtime key sets [[filter]]
    // delivered — both prune through the same proofs.
    val activeFilters: Array[sources.Filter] = pushed ++ runtimeDataFilters
    def boundsKeep(e: StagedFile): Boolean =
      activeFilters.forall(f => ManifestStats.mayMatch(full, e, f))
    // fileSubset (internal, mergeInto's read half): restrict the scan
    // to named committed files — the copy-on-write rewrite reads ONLY
    // the files it will replace. Applies to ENTRIES; a segment summary
    // is named after its segment, so only bounds prune at that level.
    def keep(e: StagedFile): Boolean =
      fileSubset.forall(_.contains(e.name)) &&
        runtimeFileSubset.forall(_.contains(e.name)) && boundsKeep(e) &&
        activeFilters.forall(f => bucketKeep(e, f) && bloomKeep(e, f))
    val txt = ManifestSink.manifestTextAt(path, version)
    var examined = 0L
    val segEntries = ManifestSink.segmentRefsFull(txt).flatMap { r =>
      if (r.summary.exists(s =>
          !boundsKeep(SchemaEvolution.normalizeEntry(s, renameMap)))) Nil
      else {
        val es = ManifestSink.parseEntries(
          ManifestSink.segmentTextStrict(path, r.name))
          .map(SchemaEvolution.normalizeEntry(_, renameMap))
        examined += es.size
        es.filter(keep)
      }
    }
    val inline = ManifestSink.parseEntries(txt)
      .map(SchemaEvolution.normalizeEntry(_, renameMap))
    examined += inline.size
    val out = segEntries ++ inline.filter(keep)
    examinedEntries = examined
    plannedEntries = out.size
    out
  }

  private def fileSize(f: StagedFile): Long = ManifestSink.fileSize(path, f)

  /** STORAGE-PARTITIONED JOIN support: when the table declares
    * partition columns and EVERY surviving file provably holds exactly
    * one partition tuple — rendered min == max (truncation makes them
    * differ, so equality means exact), no NaN, a recorded ZERO null
    * count — each file's tuple is its partition KEY, and the scan
    * reports `KeyGroupedPartitioning` so Spark co-locates equi-joins of
    * two same-partitioned tables WITHOUT a shuffle (the Iceberg SPJ
    * story; enable `spark.sql.sources.v2.bucketing.enabled`). Any file
    * that cannot prove its tuple makes the whole scan report unknown —
    * a wrong key would silently corrupt the join, an unknown one only
    * costs a shuffle. */
  private lazy val partSpecs: Seq[PartSpec] = PartSpec.parseAll(partCols)

  private lazy val keyedEntries: Option[Seq[(StagedFile, InternalRow, String)]] =
    if (partSpecs.isEmpty) None
    else {
      val fields = partSpecs.map(sp => full.fields.find(_.name == sp.col))
      if (fields.exists(_.isEmpty)) None
      else {
        val keyed = survivingEntries.map { e =>
          val vals = partSpecs.zip(fields.map(_.get)).map { case (sp, fld) =>
            (e.partValues.get(sp.name), sp) match {
              // Explicit recorded tuple value (transform-partitioned
              // writes record them; a bucket id exists ONLY here).
              case (Some(raw), _: BucketPart) =>
                scala.util.Try(raw.toInt).toOption.map(b => raw -> (b: Any))
              case (Some(raw), _: IdentityPart) if raw != "null" =>
                scala.util.Try(NdjsonCodec.converter(fld.dataType)(
                  NdjsonCodec.parseLine(s"""{"v":$raw}""")("v"))).toOption
                  .map(v => raw -> v)
              // Legacy identity entries: prove the single value from
              // exact bounds (truncation breaks equality, so rendered
              // min == max means exact).
              case (None, _: IdentityPart) =>
                e.stats.find(_.col == fld.name) match {
                  case Some(st) if st.min == st.max && !st.hasNan &&
                      e.nullCounts.get(fld.name).contains(0L) =>
                    Some(st.min -> NdjsonCodec.converter(fld.dataType)(
                      NdjsonCodec.parseLine(s"""{"v":${st.min}}""")("v")))
                  case _ => None
                }
              case _ => None
            }
          }
          if (vals.exists(_.isEmpty)) None
          else Some((e,
            new GenericInternalRow(vals.map(_.get._2).toArray[Any]): InternalRow,
            vals.map(_.get._1).mkString("\u0000")))
        }
        if (keyed.exists(_.isEmpty)) None else Some(keyed.map(_.get))
      }
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
    keyedEntries match {
      case _ if startingVersion.isDefined =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
      case Some(keyed) if keyed.nonEmpty =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          partSpecs.map {
            case IdentityPart(c) => Expressions.identity(c): Expression
            case BucketPart(n, c) => Expressions.bucket(n, c): Expression
          }.toArray,
          keyed.map(_._3).distinct.size)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }
  }

  /** One partition per `maxSplitBytes` byte range, not per file — a
    * 10 GB NDJSON file must fan out across the cluster, not serialize
    * into one task. Ranges use the Hadoop line-split contract (a record
    * belongs to the split containing its first byte; a reader past
    * byte 0 discards through the first newline and may finish one line
    * past its end), so any split size yields the same rows exactly.
    * Key-grouped scans attach each split's partition tuple (splits of
    * one file share its key; Spark groups same-key partitions). */
  override def planInputPartitions(): Array[InputPartition] = {
    // BATCH change-feed (Delta's table_changes shape): startingVersion
    // (exclusive) .. endingVersion (inclusive, default current) replays
    // the generation diff as _change_type rows — audit a window of
    // history without running a stream. Retained generations bound the
    // window, exactly like the streaming feed.
    if (startingVersion.isDefined) {
      require(version.isEmpty, "versionAsOf and startingVersion conflict")
      return ManifestSink.planGenerationDiff(path, full, pushed,
        maxSplitBytes, startingVersion.get,
        endingVersion.getOrElse(ManifestSink.committedGeneration(path)),
        changeFeed)
    }
    // Row-level operations replace exactly the files they read: record
    // the planned set (post static pruning AND runtime group filter —
    // this plans again after filter()) for the write side to retire.
    rowLevel.foreach(_.recordScanned(survivingEntries))
    // Equality deletes AS OF this scan's generation: each data file
    // gets exactly the tombstone files newer than its own commit seq
    // (Iceberg's sequence rule — a later re-insert of a deleted key
    // survives).
    val eqs = ManifestSink.parseEqDeletes(
      ManifestSink.manifestTextAt(path, version))
    def eqFor(f: StagedFile): Seq[EqRef] =
      eqs.filter(_.seq > f.seq).map(d => EqRef(d.name, d.cols))
    keyedEntries match {
      case Some(keyed) =>
        // Runtime filters (row-level group filtering, dynamic file
        // pruning) arrive AFTER outputPartitioning forced this lazy
        // val — a replan must re-intersect with the CURRENT surviving
        // set, or a key-grouped scan would silently ignore them and
        // (on the row-level path) read files the rewrite never
        // retires. Spark tolerates dropped keys: missing partition
        // values plan as empty partitions.
        val live = survivingEntries.map(_.name).toSet
        keyed.filter { case (f, _, _) => live.contains(f.name) }
          .flatMap { case (f, key, _) =>
            ManifestSink.splitFile(path, f, maxSplitBytes, eqFor(f),
              blockSplit = false).map {
              case p: ManifestFilePartition =>
                KeyedManifestFilePartition(p.file, p.start, p.end, key,
                  p.dv, p.eq, p.codec, p.idbase): InputPartition
              case p => p
            }
          }.toArray
      case None =>
        // SUB-FILE block pruning rides only the PLAIN batch scan:
        //  - a row-level (copy-on-write) scan reads EVERY row of the
        //    files it replaces — pruning a block would silently drop
        //    its rows from the rewrite;
        //  - fileSubset is the mergeInto read half (same rewrite);
        //  - the key-grouped branch above claims per-key ordering that
        //    assumes one split per key.
        val pruning =
          if (rowLevel.isEmpty && fileSubset.isEmpty && !fileFilter &&
              runtimeFileSubset.isEmpty)
            Some((full, pushed ++ runtimeDataFilters))
          else None
        val chosen = chooseHead(survivingEntries, eqs.nonEmpty)
        plannedEntries = chosen.size
        chosen.flatMap(f =>
          ManifestSink.splitFile(path, f, maxSplitBytes, eqFor(f),
            pruning)).toArray
    }
  }

  /** Pushed-LIMIT / TOP-N file pruning (see [[ManifestScanBuilder]]'s
    * pushdown contract): return the SUBSET of surviving files that
    * provably contains a valid answer superset, or all of them when
    * nothing is provable. Sound-or-stand-down:
    *  - a pending EQUALITY DELETE drops rows at read, so `liveRows`
    *    overcounts and the coverage argument breaks — stand down
    *    (checked here, at plan time, against THIS scan's snapshot);
    *  - runtime filters mean the scan sits under a join, not a bare
    *    limit — stand down;
    *  - deletion vectors are fine: `liveRows` is the exact live count
    *    and physical bounds outer-bound the live subset. */
  private def chooseHead(base: Seq[StagedFile], eqPending: Boolean)
      : Seq[StagedFile] = {
    if ((headLimit.isEmpty && topNSpec.isEmpty) || eqPending ||
        runtimeFileSubset.isDefined || runtimeDataFilters.nonEmpty)
      return base
    topNSpec match {
      case Some((col, desc, n)) =>
        topNCandidates(base, col, desc, n).getOrElse(base)
      case None =>
        // Unordered LIMIT: ANY n live rows are a correct answer —
        // plan the manifest-order file prefix covering n.
        val n = headLimit.get
        var acc = 0L
        val b = Seq.newBuilder[StagedFile]
        val it = base.iterator
        while (acc < n && it.hasNext) {
          val e = it.next(); b += e; acc += e.liveRows
        }
        b.result()
    }
  }

  /** Files that may hold a top-`n` row on `col`. Coverage argument
    * (no non-overlap assumption needed): sort files by max bound
    * ascending (min descending for DESC), accumulate `liveRows` to
    * `n` — every accumulated row is `<=` the cutoff V (the last
    * file's max), so at least n live rows are `<= V` and the true
    * top-n all are too; keep exactly the files whose min is `<= V`
    * (a file with min `> V` cannot hold any). Requires every file to
    * prove: a recorded ZERO null count on `col` (a null sorts
    * first/last — positionally unprovable from bounds), a no-NaN
    * stat, and exact-typed parseable bounds. Any gap → None. */
  private def topNCandidates(base: Seq[StagedFile], col: String,
      desc: Boolean, n: Int): Option[Seq[StagedFile]] = {
    val dt = ManifestStats.fieldAt(full, col).map(_.dataType)
      .getOrElse(return None)
    // Exact-bound types only: strings truncate at StatLen (bounds are
    // prefixes, not values) and everything else is unproven. Bounds
    // re-enter through the SAME typed converter the row reader uses
    // and compare under the SAME ordering the writer minted them with
    // ([[NdjsonCodec.statOrdering]]) — no second dispatch to drift.
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType | DateType | TimestampType | _: DecimalType => ()
      case _ => return None
    }
    def parse(tok: String): Option[Any] =
      scala.util.Try(NdjsonCodec.converter(dt)(
        NdjsonCodec.parseLine(s"""{"v":$tok}""")("v"))).toOption
        .filter(_ != null)
    val ord: Ordering[Any] = NdjsonCodec.statOrdering(dt).getOrElse(
      return None)
    val bounds: Seq[(StagedFile, Any, Any)] = base.map { e =>
      (for {
        _ <- e.nullCounts.get(col).filter(_ == 0L)
        st <- e.stats.find(_.col == col).filter(!_.hasNan)
        mn <- parse(st.min)
        mx <- parse(st.max)
      } yield (e, mn, mx)).getOrElse(return None)
    }
    var acc = 0L
    var cut: Option[Any] = None
    val it = (if (desc) bounds.sortBy(_._2)(ord.reverse)
              else bounds.sortBy(_._3)(ord)).iterator
    while (acc < n && it.hasNext) {
      val (e, mn, mx) = it.next()
      acc += e.liveRows
      cut = Some(if (desc) mn else mx)
    }
    if (acc < n) return Some(base) // table smaller than the limit
    val v = cut.get
    Some(bounds.collect {
      case (e, mn, _) if !desc && ord.lteq(mn, v) => e
      case (e, _, mx) if desc && ord.gteq(mx, v) => e
    })
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestReaderFactory(required,
      serveFileColumn = !full.fieldNames.contains(ManifestSink.FileColumn),
      servePos = !full.fieldNames.contains(ManifestSink.PosColumn),
      aliases = aliasCands,
      identity = ManifestSink.identityAt(path))

  /** Exact numRows from the manifest (free — counted at write time),
    * AFTER file skipping; bytes from the surviving files, scaled by the
    * projected column fraction so a pruned scan advertises its true
    * width. */
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new FilesReadMetric, new FilesSkippedMetric,
      new DvRowsSkippedMetric, new EqRowsSkippedMetric)

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(TaskMetric("filesRead", plannedEntries),
      TaskMetric("filesSkipped",
        math.max(examinedEntries - plannedEntries, 0L)))

  override def estimateStatistics(): Statistics = {
    val entries = survivingEntries
    val rows = entries.map(_.liveRows).sum
    val onDisk = entries.map(fileSize).sum
    val frac =
      if (full.fields.isEmpty) 1.0
      else math.max(required.fields.length.toDouble / full.fields.length, 0.05)
    // COLUMN-LEVEL statistics for the cost-based optimizer: min/max
    // fold across the entries' recorded bounds (Catalyst-domain values
    // via the same typed converter the row reader uses — valid OUTER
    // bounds even under deletion vectors, which only drop rows), and
    // null counts sum when every entry records one AND no merge-on-read
    // state could have dropped a null (the agg-pushdown posture —
    // estimates here feed join selectivity, but there is no reason to
    // hand the CBO a number known to be wrong). A column any entry
    // lacks bounds for reports nothing; NaN presence voids the max
    // (Spark orders NaN above everything).
    // LAZY: the fold is O(entries x columns) with a token parse per
    // bound — only a CBO-enabled session asking for columnStats()
    // should ever pay it at plan time.
    lazy val colStats: java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      val anyMor = entries.exists(_.dv.isDefined) ||
        (try ManifestSink.parseEqDeletes(
            ManifestSink.manifestTextAt(path, version)).nonEmpty
         catch { case _: Exception => true })
      // Table-level NDV per bloom column: the per-file KMV sketches
      // union exactly; the estimate may overstate under merge-on-read
      // deletes (physical values), which is the safe direction for a
      // join-cardinality estimate.
      val mergedKmv = ManifestSink.mergeKmv(entries.map(_.kmv))
      full.fields.foreach { fld =>
        val ord = NdjsonCodec.statOrdering(fld.dataType).orNull
        val conv = NdjsonCodec.converter(fld.dataType)
        def parse(tok: String): Option[Any] =
          scala.util.Try(conv(NdjsonCodec.parseLine(s"""{"v":$tok}""")("v")))
            .toOption
        // Per entry: Some(Some(lo, hi, nan)) = contributes bounds,
        // Some(None) = provably all-null (skippable), None = unknown
        // (a stat-less entry with rows that COULD hold values — the
        // whole column stands down).
        val per: Seq[Option[Option[(Any, Any, Boolean)]]] = entries.map { e =>
          e.stats.find(_.col == fld.name) match {
            case Some(s) =>
              (parse(s.min), parse(s.max)) match {
                case (Some(lo), Some(hi)) => Some(Some((lo, hi, s.hasNan)))
                case _ => None
              }
            case None if e.nullCounts.get(fld.name).contains(e.rows) =>
              Some(None)
            case None => None
          }
        }
        val bounds =
          if (ord == null || entries.isEmpty || per.exists(_.isEmpty)) None
          else {
            val vals = per.flatten.flatten
            if (vals.isEmpty) None
            else Some((vals.map(_._1).min(ord), vals.map(_._2).max(ord),
              vals.exists(_._3)))
          }
        val nullCnt =
          if (anyMor || entries.isEmpty ||
              !entries.forall(_.nullCounts.contains(fld.name))) None
          else Some(entries.map(_.nullCounts(fld.name)).sum)
        val distinct = mergedKmv.get(fld.name)
          .map(ManifestSink.kmvEstimate)
        // EQUI-HEIGHT HISTOGRAM (round 14): a value DISTRIBUTION built
        // from the bound triples the manifest already records — blocks
        // when present (finer density), files otherwise — so skewed
        // predicates stop being priced under the uniform assumption.
        // Served only when full bounds and an NDV exist (the same
        // stand-down posture as everything else here), never under NaN.
        val histo: Option[(Double, Seq[(Double, Double, Long)])] =
          for {
            _ <- bounds.filter(!_._3) // every entry bounded, no NaN
            nd <- distinct
            dbl <- ManifestSink.statDouble(fld.dataType)
            h <- {
              def triple(stats: Seq[ColStat], rows: Long) =
                stats.find(_.col == fld.name).flatMap(s =>
                  for { lo <- parse(s.min); hi <- parse(s.max) }
                    yield (dbl(lo), dbl(hi), rows))
              val blockTotal = entries.map(_.blocks.size).sum
              val triples = entries.flatMap { e =>
                val fromBlocks =
                  if (e.blocks.size < 2 || blockTotal > 4096) Nil
                  else e.blocks.flatMap(b => triple(b.stats, b.rows))
                if (fromBlocks.size == e.blocks.size && fromBlocks.nonEmpty)
                  fromBlocks
                else triple(e.stats, e.liveRows).toSeq
              }
              ManifestSink.equiHeightHistogram(triples, nd)
            }
          } yield h
        if (bounds.isDefined || nullCnt.isDefined || distinct.isDefined)
          m.put(org.apache.spark.sql.connector.expressions.Expressions
              .column(fld.name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def min(): java.util.Optional[Object] =
                bounds.fold(java.util.Optional.empty[Object]())(b =>
                  java.util.Optional.of(b._1.asInstanceOf[Object]))
              override def max(): java.util.Optional[Object] =
                bounds.filter(!_._3).fold(java.util.Optional.empty[Object]())(
                  b => java.util.Optional.of(b._2.asInstanceOf[Object]))
              override def nullCount(): OptionalLong =
                nullCnt.fold(OptionalLong.empty())(OptionalLong.of)
              override def distinctCount(): OptionalLong =
                distinct.fold(OptionalLong.empty())(OptionalLong.of)
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                histo.fold(java.util.Optional.empty[
                    org.apache.spark.sql.connector.read.colstats.Histogram]()) {
                  case (h, bs) =>
                    val binArr = bs.map { case (l, u, nd) =>
                      new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                        override def lo(): Double = l
                        override def hi(): Double = u
                        override def ndv(): Long = nd
                      }
                    }.toArray
                    java.util.Optional.of(
                      new org.apache.spark.sql.connector.read.colstats.Histogram {
                        override def height(): Double = h
                        override def bins(): Array[
                          org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                          binArr
                      })
                }
            })
      }
      m
    }
    new Statistics {
      override def sizeInBytes(): OptionalLong =
        OptionalLong.of(math.max((onDisk * frac).toLong, 1L))
      override def numRows(): OptionalLong = OptionalLong.of(rows)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }
}

/** How a partition's reader applies deletion vectors. `skip` is the
  * steady state: suppress rows whose first-byte offset appears in the
  * named sidecar (live-row reads of a DV'd file). `emitOnly` inverts
  * it for the CHANGE FEED: emit ONLY the rows a new vector deletes —
  * offsets in `emitOnly` minus those in `emitExcept` (the prior
  * vector, when the file already carried one) — which is exactly the
  * `_change_type = delete` delta of a merge-on-read DELETE. Sidecar
  * names resolve against the data file's directory. */
private[sources] final case class DvSpec(skip: Option[String] = None,
    emitOnly: Option[String] = None, emitExcept: Option[String] = None) {
  def isEmpty: Boolean = skip.isEmpty && emitOnly.isEmpty
}
private[sources] object DvSpec { val Empty: DvSpec = DvSpec() }

/** One equality-delete file applicable to a partition's data file:
  * the tombstone file's name (resolved against the data file's
  * directory) and its key columns. The reader loads the key set once
  * per split and drops data rows whose key tuple is in it. */
private[sources] final case class EqRef(file: String, cols: Seq[String])

private[sources] final case class ManifestFilePartition(file: String,
    start: Long, end: Long,
    constants: Map[String, String] = Map.empty,
    dv: DvSpec = DvSpec.Empty,
    eq: Seq[EqRef] = Nil,
    // CHANGE-FEED tombstone legs: when non-empty, the reader EMITS ONLY
    // rows matching at least one of these key sets (after the normal
    // `eq` drop filters) — how an equality-delete commit's affected
    // rows re-emit as `_change_type='delete'` without the tombstone
    // ever storing full rows.
    eqEmit: Seq[EqRef] = Nil,
    // Compression codec of the file's bytes ("" = plain) — the reader
    // wraps its input accordingly; offsets stay uncompressed-domain.
    codec: String = "",
    // Frame-aligned range read of a compressed file: the PHYSICAL byte
    // offset the range's first frame begins at (-1 = read from byte 0).
    // start/end stay logical.
    physStart: Long = -1L,
    // IDENTITY base of the file's minted placeholders (-1 = none): the
    // reader resolves stored v < 0 to idbase + (-v-1)*step.
    idbase: Long = -1L) extends InputPartition

/** A file partition that KNOWS its partition-tuple value — what lets
  * Spark group co-partitioned scans for storage-partitioned joins. */
private[sources] final case class KeyedManifestFilePartition(file: String,
    start: Long, end: Long, key: InternalRow,
    dv: DvSpec = DvSpec.Empty,
    eq: Seq[EqRef] = Nil,
    codec: String = "",
    idbase: Long = -1L)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

private[sources] final case class GenOffset(gen: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = gen.toString
}

/** The manifest table as a STREAMING SOURCE (the Delta/Iceberg
  * "streaming table" idea): the offset is the manifest GENERATION, and
  * each micro-batch reads exactly the data files that appeared between
  * the committed generation and the latest one — incremental
  * consumption of an append-only table, the shape a 100 TB ingest
  * pipeline tails its bronze tables with.
  *
  * Determinism contract: a batch (s, e] replays exactly iff both
  * generations still resolve — write the table with `retainHistory` so
  * intermediate generations survive until `expireSnapshots`. (A
  * one-shot AvailableNow drain of a quiet table needs no history: its
  * single batch is (0, current].) Non-append changes under a live
  * tail — compaction, DELETE, truncate, epoch replays — would make
  * "new file names" mean re-delivered rows, so a generation diff that
  * RETIRES a file fails loudly instead of silently duplicating. */
private[sources] class ManifestMicroBatchStream(path: String,
    full: StructType, required: StructType,
    pushed: Array[sources.Filter], maxSplitBytes: Long,
    maxGensPerTrigger: Option[Long] = None,
    changeFeed: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.Offset

  // AvailableNow contract: pin the drain target at query start so a
  // table growing mid-run doesn't keep the trigger alive.
  @volatile private var drainTo: Long = -1L
  override def prepareForTriggerAvailableNow(): Unit =
    drainTo = ManifestSink.committedGeneration(path)

  override def initialOffset(): Offset = GenOffset(0L)
  override def latestOffset(): Offset = GenOffset(
    if (drainTo >= 0) drainTo else ManifestSink.committedGeneration(path))
  // Admission control: maxGenerationsPerTrigger bounds how far one
  // micro-batch advances — a tail restarted against a long backlog
  // catches up in bounded batches instead of one giant read (and under
  // AvailableNow, drains in several real increments).
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val target = latestOffset().asInstanceOf[GenOffset].gen
    val s = start.asInstanceOf[GenOffset].gen
    GenOffset(maxGensPerTrigger.fold(target)(m => math.min(target, s + m)))
  }
  override def deserializeOffset(json: String): Offset =
    GenOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    ManifestSink.planGenerationDiff(path, full, pushed, maxSplitBytes,
      start.asInstanceOf[GenOffset].gen, end.asInstanceOf[GenOffset].gen,
      changeFeed)

  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestReaderFactory(required,
      aliases = SchemaEvolution.aliasesAt(path),
      identity = ManifestSink.identityAt(path))
}

/** Scan observability (Spark SQL UI custom metrics): what file
  * skipping and deletion vectors actually did to this query — the
  * numbers a 100 TB operator reads before anything else. */
private[sources] final class FilesSkippedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "filesSkipped"
  override def description(): String =
    "committed files pruned by manifest stats (never opened)"
}
private[sources] final class FilesReadMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "filesRead"
  override def description(): String = "committed files planned for read"
}
private[sources] final class DvRowsSkippedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "dvRowsSkipped"
  override def description(): String =
    "rows suppressed by deletion vectors at read time"
}
private[sources] final class EqRowsSkippedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "eqRowsSkipped"
  override def description(): String =
    "rows suppressed by equality-delete key files at read time"
}
private[sources] final case class TaskMetric(metricName: String, v: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = v
}

private[sources] class ManifestReaderFactory(required: StructType,
    serveFileColumn: Boolean = false, servePos: Boolean = false,
    // current column name -> historic payload-key candidates
    // ([[SchemaEvolution]]): pre-rename data files keep their vintage
    // keys, so the reader looks each projected column up under every
    // name it ever had. Empty (the common case) costs nothing.
    aliases: Map[String, Seq[String]] = Map.empty,
    // IDENTITY resolution ([[GraftIdentity]]): when the projected
    // schema carries the table's identity column, stored negative
    // placeholders resolve through the partition's idbase.
    identity: Option[GraftIdentity.Spec] = None)
    extends PartitionReaderFactory {
  private val idIdx: Int = identity
    .map(sp => required.fieldNames.indexOf(sp.col)).getOrElse(-1)

  /** Wrap a reader to resolve identity placeholders. Mutable rows
    * patch in place; anything else copies the projected row (minted
    * files only — materialized files skip the wrapper entirely). */
  private def resolving(inner: PartitionReader[InternalRow], idbase: Long)
      : PartitionReader[InternalRow] =
    if (idIdx < 0 || idbase < 0) inner
    else new PartitionReader[InternalRow] {
      private val step = identity.get.step
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = {
        val r = inner.get()
        if (r.isNullAt(idIdx)) r
        else {
          val v = r.getLong(idIdx)
          if (v >= 0) r
          else {
            val abs = GraftIdentity.resolve(v, idbase, step)
            r match {
              case g: org.apache.spark.sql.catalyst.expressions.GenericInternalRow =>
                g.update(idIdx, abs); g
              case other =>
                val arr = new Array[Any](required.length)
                var i = 0
                while (i < required.length) {
                  arr(i) =
                    if (i == idIdx) abs
                    else if (other.isNullAt(i)) null
                    else other.get(i, required.fields(i).dataType)
                  i += 1
                }
                new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(arr)
            }
          }
        }
      }
      override def close(): Unit = inner.close()
    }
  // `_file` is a PLAN-derived constant like the change feed's
  // `_change_type`: each partition knows its file, so the metadata
  // column costs nothing per row. Only injected when the table schema
  // doesn't shadow the name with a real payload column.
  private def consts(file: String,
      base: Map[String, String]): Map[String, String] =
    if (serveFileColumn)
      base + (ManifestSink.FileColumn ->
        Paths.get(file).getFileName.toString)
    else base
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: ManifestFilePartition if GraftParquet.isParquet(p.file) =>
        resolving(new ParquetPartitionReader(p.file, required,
          consts(p.file, p.constants), p.dv, servePos, p.eq, p.eqEmit,
          aliases, start = p.start,
          // Planner and reader agree on half-open [start, end) byte
          // ranges for the parquet kind — passed through unchanged.
          end = p.end), p.idbase)
      case p: ManifestFilePartition =>
        resolving(new NdjsonPartitionReader(p.file, p.start, p.end, required,
          consts(p.file, p.constants), p.dv, servePos, p.eq, p.eqEmit,
          aliases, p.codec, p.physStart), p.idbase)
      case p: KeyedManifestFilePartition if GraftParquet.isParquet(p.file) =>
        resolving(new ParquetPartitionReader(p.file, required,
          consts(p.file, Map.empty), p.dv, servePos, p.eq,
          aliases = aliases), p.idbase)
      case p: KeyedManifestFilePartition =>
        resolving(new NdjsonPartitionReader(p.file, p.start, p.end, required,
          consts(p.file, Map.empty), p.dv, servePos, p.eq,
          aliases = aliases, codec = p.codec), p.idbase)
    }
}

/** Executor-side NDJSON reader for one byte range of a committed file:
  * line-framed, schema-strict, emitting only the pruned columns.
  *
  * Range contract (the Hadoop line-split rule, which makes any split
  * size yield the same rows exactly once): a reader starting past byte
  * 0 discards through the first newline (that record belongs to the
  * preceding range, which reads up to one line past its end); it then
  * emits every record whose first byte offset is ≤ `end`. Newline is a
  * single byte that cannot occur inside a UTF-8 multi-byte sequence,
  * so byte-wise framing is encoding-safe. */
private[sources] class NdjsonPartitionReader(file: String, start: Long,
    end: Long, required: StructType,
    constants: Map[String, String] = Map.empty,
    dv: DvSpec = DvSpec.Empty, servePos: Boolean = false,
    eq: Seq[EqRef] = Nil, eqEmit: Seq[EqRef] = Nil,
    aliases: Map[String, Seq[String]] = Map.empty,
    codec: String = "",
    // >= 0: frame-aligned range read of a compressed file — seek the
    // RAW stream here, decode from the frame boundary, and start `pos`
    // at `start` (an exact line boundary: no partial-line discard).
    physStart: Long = -1L)
    extends PartitionReader[InternalRow] {
  // Deletion-vector offsets, loaded once per split (sidecars are
  // small — a DV exists precisely because the delete was too small to
  // justify rewriting the file). Sorted ascending by the writer, so
  // membership is a binary search, zero boxing.
  private val dvDir: String = Paths.get(file).getParent.toString
  // Equality-delete key sets, loaded once per split (tombstone batches
  // are small by contract — a big delete should be a copy-on-write
  // rewrite). The membership test runs on the PARSED line, before
  // projection, so key columns need not be in the read schema.
  private val eqFilters: Seq[(Seq[String], java.util.HashSet[String])] =
    eq.map(r => r.cols -> ManifestSink.eqKeySet(dvDir, r.file, r.cols, aliases))
  // Change-feed emit sets: when non-empty, ONLY rows matching at least
  // one of them pass (after the drop filters) — the tombstone's
  // affected rows, reconstructed from the data files it applied to.
  private val eqEmitFilters: Seq[(Seq[String], java.util.HashSet[String])] =
    eqEmit.map(r =>
      r.cols -> ManifestSink.eqKeySet(dvDir, r.file, r.cols, aliases))
  private var eqSkipped = 0L
  private def eqKeep(parsed: collection.Map[String, NdjsonCodec.JsonVal])
      : Boolean = {
    val dead = eqFilters.nonEmpty && eqFilters.exists { case (cols, keys) =>
      keys.contains(ManifestSink.eqKeyOf(parsed, cols, aliases))
    }
    if (dead) { eqSkipped += 1; false }
    else eqEmitFilters.isEmpty || eqEmitFilters.exists { case (cols, keys) =>
      keys.contains(ManifestSink.eqKeyOf(parsed, cols, aliases))
    }
  }
  private def offsetsOf(name: String): Array[Long] =
    ManifestSink.readDvOffsets(dvDir, name)
  private val skipOffsets: Array[Long] =
    dv.skip.filter(_ => dv.emitOnly.isEmpty).map(offsetsOf).orNull
  // Change-feed delta emission: rows deleted by the NEW vector that
  // the prior vector (if any) had not already deleted.
  private val onlyOffsets: Array[Long] = dv.emitOnly.map { n =>
    val now = offsetsOf(n)
    dv.emitExcept match {
      case None => now
      case Some(prev) =>
        val old = offsetsOf(prev)
        now.filter(o => java.util.Arrays.binarySearch(old, o) < 0)
    }
  }.orNull
  private var dvSkipped = 0L
  private def dvKeep(lineStart: Long): Boolean =
    if (onlyOffsets != null)
      java.util.Arrays.binarySearch(onlyOffsets, lineStart) >= 0
    else if (skipOffsets != null &&
        java.util.Arrays.binarySearch(skipOffsets, lineStart) >= 0) {
      dvSkipped += 1
      false
    } else true

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(TaskMetric("dvRowsSkipped", dvSkipped),
      TaskMetric("eqRowsSkipped", eqSkipped))
  private val in = new java.io.BufferedInputStream({
    val raw =
      try Files.newInputStream(Paths.get(file))
      catch {
        case e: java.nio.file.NoSuchFileException =>
          // The read/GC race, surfaced honestly: compact/truncate/
          // expireSnapshots delete retired files right after their
          // manifest swap, so a scan planned against the PREVIOUS
          // snapshot can reach an executor after its file is gone.
          throw new IllegalStateException(
            s"committed file $file vanished between planning and reading — " +
              "a concurrent compact/truncate/expireSnapshots retired the " +
              "snapshot this scan planned against. Re-run the query (it " +
              "will plan against the current manifest), or pause " +
              "compaction while long scans are in flight.", e)
      }
    // Frame-aligned range read: seek the RAW (compressed) stream to the
    // frame boundary before the codec wrap — decoding starts cleanly at
    // a gzip member / zstd frame header.
    if (physStart > 0) {
      var n = physStart
      while (n > 0) {
        val k = raw.skip(n)
        if (k > 0) n -= k
        else if (raw.read() == -1) n = 0
        else n -= 1
      }
    }
    // Decompress BELOW the line framer, so `pos` — the offsets deletion
    // vectors and `_pos` live in — counts UNCOMPRESSED bytes, exactly
    // like the writer's counter above its compression layer.
    // Multi-member/multi-frame streams (concat compaction output)
    // decode transparently.
    ManifestSink.wrapRead(raw, codec)
  }, 1 << 16)
  private var pos = 0L
  // Bulk-buffered line framing: newline search runs over a 64 KB block
  // with a tight byte loop and lines copy out in one arraycopy — the
  // per-byte InputStream.read() virtual-call tax (two calls per payload
  // byte, which dominated scan CPU before parse work even started) is
  // gone. `pos` tracking is unchanged: byte offsets stay the row
  // identity deletion vectors record.
  private val rdBuf = new Array[Byte](1 << 16)
  private var rdLen = 0
  private var rdPos = 0
  private var rdEof = false
  private def ensureBuf(): Boolean = {
    if (rdPos < rdLen) return true
    if (rdEof) return false
    rdLen = in.read(rdBuf)
    rdPos = 0
    if (rdLen <= 0) { rdEof = true; rdLen = 0; return false }
    true
  }
  private val lineOut = new java.io.ByteArrayOutputStream(256)

  locally {
    if (physStart >= 0) pos = start // frame-aligned: starts AT a line
    else {
      var n = start
      while (n > 0) {
        val k = in.skip(n)
        if (k > 0) { n -= k; pos += k }
        else if (in.read() == -1) n = 0
        else { n -= 1; pos += 1 }
      }
      if (start > 0) readRawLine() // partial record: the previous range's
    }
  }

  private val convs: Array[NdjsonCodec.JsonVal => Any] =
    required.fields.map(f => NdjsonCodec.converter(f.dataType))
  private val names: Array[String] = required.fields.map(_.name)
  // EXISTS_DEFAULT values (Catalyst domain) per projected column: what
  // a row written BEFORE the column existed reads back. Served only
  // for ABSENT payload keys — the writer renders every schema key, so
  // an explicit null stays null. Null array slots mean "no default"
  // (plain null), so the serve below is branch-free.
  private val existsDefaults: Array[Any] =
    try org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .existenceDefaultValues(required)
    catch { case _: Exception => new Array[Any](required.fields.length) }
  // Partition-constant columns (the change-feed's _change_type):
  // filled per row from the PLAN, not the payload — the data files
  // do not carry them.
  private val consts: Array[Any] = required.fields.map(f =>
    constants.get(f.name).map(UTF8String.fromString).orNull)
  // `_pos` is per-ROW plan-derived metadata (unlike the per-partition
  // constants): the byte offset of the record's first byte — the row
  // half of the (_file, _pos) identity positional deletes record.
  private val posIdx: Int =
    if (servePos) required.fieldNames.indexOf(ManifestSink.PosColumn) else -1
  // PROJECTION-AWARE parse set: only the payload keys this read actually
  // consumes — the pruned columns (plan-constant and _pos slots serve
  // from the plan, never the payload) PLUS every equality-delete key
  // column (the membership test runs pre-projection, so tombstones
  // apply even when their keys are unprojected). Everything else is
  // structurally skipped by the tokenizer: on a wide-row corpus with a
  // narrow projection the reader CPU tracks the projection, not the
  // row width.
  // Historic payload-key candidates per projected column (current name
  // first). Pre-rename lines carry a vintage key; at most one
  // candidate appears per line (retired names are never re-added), so
  // first-present wins unambiguously — including inside compacted
  // files that CONCATENATE lines of mixed vintages.
  private val cands: Array[Array[String]] =
    names.map(n => (n +: aliases.getOrElse(n, Nil)).toArray)
  private val neededKeys: NdjsonCodec.NeededKeys = {
    val b = collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < names.length) {
      if (i != posIdx && consts(i) == null) b ++= cands(i)
      i += 1
    }
    def withAliases(c: String): Unit = {
      b += c; b ++= aliases.getOrElse(c, Nil)
      // Dotted (nested-leaf) key: the leaf lives inside the HEAD
      // struct's captured raw — the parse must materialize the head
      // (under any rename spelling), or the tokenizer would skip the
      // struct and the membership test would read every leaf as null.
      val dot = c.indexOf('.')
      if (dot > 0) {
        val head = c.substring(0, dot)
        b += head; b ++= aliases.getOrElse(head, Nil)
        aliases.foreach { case (cur, hist) =>
          if (hist.contains(head)) b += cur
        }
      }
    }
    eq.foreach(r => r.cols.foreach(withAliases))
    eqEmit.foreach(r => r.cols.foreach(withAliases))
    new NdjsonCodec.NeededKeys(b.toSeq)
  }
  private var current: InternalRow = _

  /** One raw line (newline excluded, trailing \r tolerated), advancing
    * `pos` past the terminator; null at EOF with no bytes read. */
  private def readRawLine(): Array[Byte] = {
    if (!ensureBuf()) return null
    lineOut.reset()
    var done = false
    while (!done) {
      if (!ensureBuf()) done = true // EOF terminates the final line
      else {
        var j = rdPos
        while (j < rdLen && rdBuf(j) != '\n') j += 1
        lineOut.write(rdBuf, rdPos, j - rdPos)
        pos += j - rdPos
        rdPos = j
        if (j < rdLen) { // newline found
          pos += 1
          rdPos = j + 1
          done = true
        }
      }
    }
    val arr = lineOut.toByteArray
    if (arr.nonEmpty && arr(arr.length - 1) == '\r')
      java.util.Arrays.copyOf(arr, arr.length - 1)
    else arr
  }

  override def next(): Boolean = {
    current = null
    while (current == null) {
      if (pos > end) return false // next record's first byte is past the range
      val lineStart = pos
      val raw = readRawLine()
      if (raw == null) return false
      if (raw.nonEmpty && dvKeep(lineStart)) {
        // Byte-level selective parse: the line is never decoded to a
        // String — only the needed values are.
        val parsed = NdjsonCodec.parseBytesSelect(raw, neededKeys)
        if (eqKeep(parsed)) {
          val vals = new Array[Any](names.length)
          var i = 0
          while (i < names.length) {
            vals(i) =
              if (i == posIdx) lineStart
              else if (consts(i) != null) consts(i)
              else {
                val cs = cands(i)
                var v: NdjsonCodec.JsonVal = null
                var j = 0
                while (v == null && j < cs.length) {
                  parsed.get(cs(j)) match {
                    case Some(g) => v = g
                    case None => j += 1
                  }
                }
                // Absent key = the file predates the column: serve its
                // EXISTS_DEFAULT (null when none). An explicit payload
                // null converts to null as before.
                if (v == null) existsDefaults(i) else convs(i)(v)
              }
            i += 1
          }
          current = new GenericInternalRow(vals)
        }
      }
    }
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

private[sources] class ManifestWriteBuilder(path: String, schema: StructType,
    queryId: String, truncate: Boolean, retain: Boolean = false,
    autoCompactRows: Long = 0L,
    maxSegments: Int = ManifestSink.DefaultMaxSegments,
    partCols: Seq[String] = Nil,
    // Thunked: a row-level operation's replaced-file set is known only
    // after its scan executed (runtime group filtering narrows it), so
    // the committer resolves it at COMMIT time, not builder time.
    // Name → deletion-vector sidecar AT SCAN TIME: the commit verifies
    // each named file still carries exactly that vector (drift = a
    // concurrent merge-on-read delete this rewrite never read).
    replaceFiles: () => Map[String, Option[String]] =
      () => Map.empty[String, Option[String]],
    dynamicOverwrite: Boolean = false,
    distributeByPartition: Boolean = false,
    txnStage: Option[String] = None,
    sortBy: Seq[String] = Nil,
    // Overrides the commit's provenance tag (the pointer's `tag` field,
    // default: Spark's write queryId). What lets a caller make a
    // commit SELF-DESCRIBING in history — materialized-view refresh
    // stamps its folded delta range here, so a crashed refresh is
    // recoverable from the MV's own commit log.
    commitTag: Option[String] = None,
    // Columns to bloom-index on every written file (table property /
    // write option `bloomColumns`) — see [[BloomIndex]].
    bloomCols: Seq[String] = Nil,
    // mergeSchema evolution planned at analysis, applied by the commit
    // under the publish lock ([[SchemaEvolution.evolveMetaAtCommit]]).
    newCols: Seq[StructField] = Nil,
    widens: Map[String, DataType] = Map.empty,
    // Some(keys) = the ENFORCED CHECK constraints this write was
    // ANALYZED with (Spark plants their validation into the write plan
    // at analysis); the commit fails loudly if the table's meta carries
    // one these rows were never validated against — the other half of
    // the ADD CONSTRAINT race (see [[ManifestTable.version]]). None =
    // internal rewrites of already-validated rows (cluster, compact,
    // MV refresh), which stand down.
    plannedChecks: Option[Set[String]] = None)
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  /** `distributionMode=hash` (Iceberg's spelling, as a table property
    * or write option): the WRITE declares a required clustering by the
    * partition transforms, so Spark shuffles rows to co-locate each
    * partition tuple in one task BEFORE the write — one file per tuple
    * instead of one per (task × tuple), killing the small-files
    * footgun at the plan level instead of documenting it. Off by
    * default: unclustered writes stay shuffle-free. */
  override def build(): org.apache.spark.sql.connector.write.Write = {
    val specs = PartSpec.parseAll(partCols)
    val needDist = distributeByPartition && specs.nonEmpty
    if (!needDist && sortBy.isEmpty)
      return super.build()
    new org.apache.spark.sql.connector.write.Write
        with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      override def toBatch: BatchWrite = buildForBatch()
      override def toStreaming: StreamingWrite = buildForStreaming()
      override def requiredDistribution()
          : org.apache.spark.sql.connector.distributions.Distribution =
        if (!needDist)
          org.apache.spark.sql.connector.distributions.Distributions
            .unspecified()
        else org.apache.spark.sql.connector.distributions.Distributions
          .clustered(specs.map {
            case IdentityPart(c) =>
              org.apache.spark.sql.connector.expressions.Expressions
                .identity(c): org.apache.spark.sql.connector.expressions.Expression
            case BucketPart(n, c) =>
              org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)
          }.toArray)
      // The declared sort is what stamps `sorted` on the written
      // entries: Spark sorts each task's rows before the writer sees
      // them, so every file (and every per-tuple file a partitioned
      // task splits into — a subsequence of a sorted stream is sorted)
      // is physically in this order.
      override def requiredOrdering()
          : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        sortBy.map(c =>
          org.apache.spark.sql.connector.expressions.Expressions.sort(
            org.apache.spark.sql.connector.expressions.Expressions.column(c),
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
        ).toArray
    }
  }

  override def truncate(): WriteBuilder =
    new ManifestWriteBuilder(path, schema, queryId, truncate = true, retain,
      autoCompactRows, maxSegments, partCols, replaceFiles,
      distributeByPartition = distributeByPartition, txnStage = txnStage,
      sortBy = sortBy, commitTag = commitTag, bloomCols = bloomCols,
      newCols = newCols, widens = widens, plannedChecks = plannedChecks)

  /** Dynamic partition overwrite (Hive's `INSERT OVERWRITE` with
    * `partitionOverwriteMode=dynamic`, the Iceberg/Delta
    * replaceWhere-by-written-partitions shape): the commit retires
    * exactly the prior files whose partition tuple appears among the
    * written files' tuples — untouched partitions carry over. Only
    * meaningful on a partitioned table; refuse up front otherwise
    * (silently degrading to truncate would destroy data). */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    require(partCols.nonEmpty,
      s"dynamic partition overwrite of $path needs a partitioned table " +
        "(declare PARTITIONED BY / the partitionBy write option)")
    new ManifestWriteBuilder(path, schema, queryId, truncate = false, retain,
      autoCompactRows, maxSegments, partCols, replaceFiles,
      dynamicOverwrite = true, distributeByPartition = distributeByPartition,
      txnStage = txnStage, sortBy = sortBy, commitTag = commitTag,
      bloomCols = bloomCols, newCols = newCols, widens = widens,
      plannedChecks = plannedChecks)
  }

  override def buildForBatch(): BatchWrite =
    new ManifestBatchWrite(path, schema, queryId, truncate, retain,
      maxSegments, partCols, replaceFiles, dynamicOverwrite, txnStage,
      sortBy, commitTag, bloomCols, newCols, widens, plannedChecks)

  override def buildForStreaming(): StreamingWrite =
    new ManifestStreamingWrite(path, schema, queryId, retain, autoCompactRows,
      maxSegments, partCols, sortBy, bloomCols, newCols, widens,
      plannedChecks)
}

/** Streaming (epoch-committed) writes: each micro-batch publishes like a
  * small batch job — task-staged files, driver-side manifest append —
  * with the EPOCH id baked into every PUBLISHED file name, so a replayed
  * epoch (failure between sink commit and checkpoint advance)
  * regenerates the SAME names and the manifest composition stays
  * idempotent: re-running epoch k replaces epoch k's files instead of
  * duplicating them. Staging is attempt-unique (see
  * [[NdjsonDataWriter]]) — only the final name is deterministic. That is
  * the V2-native version of the foreachBatch idempotent-upsert recipe. */
private[sources] class ManifestStreamingWrite(path: String, schema: StructType,
    queryId: String, retain: Boolean = false, autoCompactRows: Long = 0L,
    maxSegments: Int = ManifestSink.DefaultMaxSegments,
    partCols: Seq[String] = Nil,
    // Declared per-task sort (write option / table property `sortBy`):
    // the Write wrapper REQUIRED the ordering, Spark's micro-batch
    // write honors RequiresDistributionAndOrdering, and the writers
    // additionally VERIFY row order before stamping — so a streamed-in
    // silver table claims `sorted` exactly like a batch-written one
    // and its downstream merge joins plan sort-free. Epoch replays
    // regenerate the same rows in the same order: same stamp.
    sortBy: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
    // mergeSchema evolution, applied by the FIRST epoch commit
    // (idempotent — later epochs find it already in the schema).
    newCols: Seq[StructField] = Nil,
    widens: Map[String, DataType] = Map.empty,
    // Enforced-CHECK snapshot at analysis — see [[ManifestWriteBuilder]].
    // Checked at EVERY epoch commit: a long-running stream planned
    // before an ADD CONSTRAINT carries no validation for it, so its
    // later epochs must fail loudly rather than land unvalidated rows.
    plannedChecks: Option[Set[String]] = None)
    extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    Files.createDirectories(Paths.get(path, s".staging-$queryId"))
    // Row guards compiled ONCE at stream start, driver-side: the
    // streaming resolution path plants neither CHECK validation nor
    // generated-column computation (see [[RowGuards]]).
    new ManifestStreamingWriterFactory(path, queryId, schema, partCols,
      sortBy, bloomCols, RowGuards.compile(path, schema))
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(path)
    val staging = Paths.get(path, s".staging-$queryId")
    val outerWinners = StagedFileSet.all(messages)
    // Epoch commits are appends (replays retire only their OWN prior
    // attempt's entries) — queue behind a live holder like any append.
    ManifestSink.withPublishLock(dir,
        acquireWaitMs = ManifestSink.AppendAcquireWaitMs) {
      ManifestSink.requireNoConstraintDrift(dir, plannedChecks)
      // IDENTITY allocation per epoch, same lock-serialized contract as
      // the batch commit; a replayed epoch re-allocates fresh ranges
      // while retiring its first attempt's entries wholesale — ids stay
      // unique, the wasted range is an identity-semantics gap.
      val winners = ManifestSink.identityAt(path) match {
        case Some(sp) => GraftIdentity.allocate(dir, sp, outerWinners)
        case None =>
          require(!outerWinners.exists(_.minted > 0),
            s"epoch $epochId staged identity placeholders but $path " +
              "declares no IDENTITY column — refusing to publish " +
              "unresolvable values")
          outerWinners
      }
      SchemaEvolution.evolveMetaAtCommit(dir, newCols, widens)
      // Manifest composition keyed by EPOCH: a replayed epoch (failure
      // between sink commit and checkpoint advance) retires ALL of its
      // first attempt's entries, not just name collisions — a replay
      // that plans fewer partitions must not leave the first attempt's
      // extra files committed (they would double-count rows). Prior
      // rows come from the manifest itself (no per-epoch re-count).
      val generation = ManifestSink.committedGeneration(path)
      val epochPrefix = f"part-e$epochId%05d-"
      val txt = ManifestSink.manifestText(path, ManifestSink.ManifestName)
      val segRefs = ManifestSink.segmentRefsFull(txt)
      val segEntries = segRefs.flatMap(r =>
        ManifestSink.parseEntries(ManifestSink.segmentTextStrict(path, r.name)))
      val inline = ManifestSink.parseEntries(txt)
      val (stale, prior) = (segEntries ++ inline)
        .partition(_.name.startsWith(epochPrefix))
      val winnerNames = winners.map(_.name).toSet
      ManifestSink.publishStaged(staging, dir, winners)
      // A FIRST-attempt epoch (no stale entries anywhere, segment count
      // under the collapse bound) publishes O(delta): carry segments by
      // name, migrate surviving legacy inline entries once, append the
      // epoch's files as one new segment. A REPLAY (stale entries to
      // retire — possibly buried inside carried segments) or the
      // every-MaxSegments-th commit collapses to one segment instead.
      val segStale = segEntries.exists(_.name.startsWith(epochPrefix))
      val stamped = winners.map(_.copy(seq = generation + 1)).toSeq
      if (!segStale && segRefs.size < maxSegments) {
        ManifestSink.publishDelta(dir, segRefs,
          inline.filterNot(_.name.startsWith(epochPrefix)),
          stamped, generation + 1, s"$queryId.$epochId", retain)
      } else {
        ManifestSink.publishManifest(dir, prior ++ stamped, generation + 1,
          s"$queryId.$epochId", retain)
        ManifestSink.sweepSegments(dir)
      }
      // Retired first-attempt files are deleted only AFTER the swap:
      // before it the old manifest still references them; after it they
      // are unreferenced garbage, so this delete is idempotent GC that a
      // crash can defer harmlessly to the next replay of the epoch. In
      // retention mode the history manifests may still reference them —
      // deletion defers to expireSnapshots.
      if (!retain)
        stale.filterNot(f => winnerNames.contains(f.name))
          .foreach(f => ManifestSink.ownedNames(f)
            .foreach(n => Files.deleteIfExists(dir.resolve(n))))
      // Bound the manifest: without this, a long-running stream
      // accretes one entry per (epoch × partition) forever and the
      // wholesale manifest rewrite above grows without limit. Inside
      // the held lock (compactLocked, no re-acquire); the CURRENT
      // epoch's files are excluded so a replay of this epoch still
      // finds its epoch-named entries to retire.
      if (autoCompactRows > 0 && !retain)
        ManifestSink.compactLocked(dir, autoCompactRows,
          exclude = _.startsWith(epochPrefix))
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staging = Paths.get(path, s".staging-$queryId")
    StagedFileSet.all(messages.filter(_ != null)).foreach { f =>
      Files.deleteIfExists(staging.resolve(f.name))
      f.bloomName.foreach(n => Files.deleteIfExists(staging.resolve(n)))
    }
  }
}

private[sources] class ManifestStreamingWriterFactory(path: String,
    queryId: String, schema: StructType, partCols: Seq[String] = Nil,
    sortBy: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
    guards: RowGuards = RowGuards.Empty)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val inner = createInner(partitionId, taskId, epochId)
    if (guards.isEmpty) inner
    else new DataWriter[InternalRow] {
      override def write(record: InternalRow): Unit =
        inner.write(RowGuards.apply(guards, schema, record))
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }

  private def createInner(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val parquetKind = ManifestSink.filekindAt(path) == "parquet"
    val identity = ManifestSink.identityAt(path)
      .filter(sp => schema.fieldNames.contains(sp.col))
    if (partCols.isEmpty && parquetKind)
      new ParquetDataWriter(path, queryId, schema, partitionId, taskId,
        Some(epochId), bloomCols = bloomCols, identity = identity)
    else if (partCols.isEmpty)
      new NdjsonDataWriter(path, queryId, schema, partitionId, taskId,
        Some(epochId), sortedCols = sortBy, bloomCols = bloomCols,
        identity = identity)
    else
      new PartitionedNdjsonDataWriter(path, queryId, schema, partCols,
        partitionId, taskId, Some(epochId), sortedCols = sortBy,
        bloomCols = bloomCols, parquetKind = parquetKind,
        identity = identity)
  }
}

/** Per-file column bounds, parquet-footer style: `min`/`max` are the
  * column's extreme values RENDERED as JSON literals (the same encoding
  * as the payload), so they ride inside the manifest entry unchanged
  * and re-parse losslessly when the scan prunes files against them.
  * String bounds are TRUNCATED parquet-style ([[NdjsonCodec.truncLower]]
  * / [[NdjsonCodec.truncUpper]]) so an extreme megabyte document never
  * rides in the manifest. `hasNan` marks a float/double column that
  * contains NaN rows — Spark orders NaN ABOVE every value, so the
  * recorded (NaN-free) max is not an upper bound for pruning purposes
  * when the flag is set (Iceberg's nan_value_counts idea). */
private[sources] final case class ColStat(col: String, min: String,
    max: String, hasNan: Boolean = false)

/** One sub-file block's byte range `[start, end)` (both at line
  * boundaries), row count, and column bounds — see
  * [[StagedFile.blocks]]. No null counts: block-level IS NULL proofs
  * stand down conservatively.
  *
  * `physStart` (compressed files only, -1 otherwise): the COMPRESSED
  * byte offset where this block's gzip member / zstd frame begins.
  * Writers seal the codec stream at every block boundary, so each
  * block is independently decodable from its physStart — which is
  * what gives compressed files back BOTH split reads and block-range
  * pruning (`start`/`end` stay logical/uncompressed: the domain row
  * identity, DVs and `_pos` live in). */
private[sources] final case class BlockStat(start: Long, end: Long,
    rows: Long, stats: Seq[ColStat], physStart: Long = -1L)

/** `bytes` is the data file's on-disk size recorded at write time (-1
  * for entries from pre-round-10 manifests — planning then falls back
  * to a filesystem stat). `nullCounts` records per-column null counts
  * (Iceberg's null_value_counts): a column ABSENT from the map has an
  * unknown count (legacy entries, or dropped by a conservative merge) —
  * absence always disables, never enables, pruning and metadata
  * deletes. */
private[sources] final case class StagedFile(name: String, rows: Long,
    stats: Seq[ColStat] = Nil, bytes: Long = -1L,
    nullCounts: Map[String, Long] = Map.empty,
    partValues: Map[String, String] = Map.empty,
    // DELETION VECTOR (merge-on-read, the Iceberg positional-delete /
    // Delta-DV idea): `dv` names a sidecar file of byte offsets whose
    // rows are logically deleted — the DATA FILE IS NEVER REWRITTEN
    // for a small delete; scans skip the offsets, compaction
    // materializes them. `rows` stays the PHYSICAL line count (what
    // the stat proofs reason over — live rows are a subset, so every
    // bounds/null proof over physical rows is sound for live rows);
    // `dvRows` is how many of them the vector deletes, so live = rows
    // - dvRows everywhere a logical count matters.
    dv: Option[String] = None, dvRows: Long = 0L,
    // Commit SEQUENCE: the generation this file was committed at
    // (stamped by the committers; 0 = legacy/unknown). Equality
    // deletes apply to exactly the files whose seq is smaller than
    // the delete's own — Iceberg's data-sequence-number rule, which is
    // what lets a CDC upsert's re-insert survive its key's tombstone.
    seq: Long = 0L,
    // SORT ORDER the file's rows are physically in (ascending,
    // nulls-first — Spark's default sort), stamped by writes that
    // declared a `sortBy` ordering. What lets the scan report
    // SupportsReportOrdering and a downstream sort-merge join skip its
    // per-partition sorts. Deletion vectors and equality deletes only
    // DROP rows, so they never invalidate it; compaction CONCATENATES,
    // so merged entries drop it.
    sorted: Seq[String] = Nil,
    // Columns indexed by the file's bloom SIDECAR (`<name>.bloom` —
    // see [[BloomIndex]]): recorded here so planning knows, without a
    // filesystem probe per candidate file, whether a point-lookup
    // filter is worth a sidecar read. Empty = no index, no skipping.
    // DVs/equality deletes only DROP rows so they never invalidate a
    // bloom; compaction concatenates into new files and drops it.
    bloomCols: Seq[String] = Nil,
    // SUB-FILE block stats (the parquet row-group / Iceberg split-
    // offsets idea): column bounds per ~blockBytes byte range, recorded
    // at LINE boundaries by the writer. Planning prunes whole byte
    // ranges of a big file against pushed filters — on a sorted 1 GB
    // file a point lookup reads one block, not the file. Only present
    // when the file closed >= 2 blocks; DVs/equality deletes only DROP
    // rows (bounds stay sound); RAW-CONCAT compaction CARRIES members'
    // blocks with shifted offsets (byte-exact copy keeps them valid);
    // re-rendering paths (delete materialization, transcode, sorted
    // merge) drop them.
    blocks: Seq[BlockStat] = Nil,
    // Compression codec of the data file's BYTES ("" = plain NDJSON,
    // "gzip"). Recorded per FILE so a table whose `codec` property
    // changes mid-life keeps every committed file readable. Compressed
    // files plan as one unsplit partition; all logical offsets (DVs,
    // `_pos`) live in the uncompressed domain.
    codec: String = "",
    // KMV DISTINCT-COUNT sketches per bloom-indexed column: the k
    // smallest DISTINCT 64-bit hashes of the file's values (k = 64,
    // ~600 B/col — derived free from the bloom hash buffer at commit).
    // k-minimum-values MERGE by union-then-retake-k, so the scan folds
    // them into a table-level NDV estimate for the optimizer's
    // columnStats.distinctCount — the join-cardinality input CBO
    // actually wants, on exactly the declared join-key columns.
    kmv: Map[String, Seq[Long]] = Map.empty,
    // IDENTITY minting (round-17, [[GraftIdentity]]): `minted` = how
    // many of this file's rows store negative un-allocated placeholders
    // for the table's identity column (reported by the writer, consumed
    // by the commit's allocation); `idbase` = the absolute value of the
    // file's first minted row, assigned at commit under the publish
    // lock. Readers resolve stored v < 0 to idbase + (-v-1)*step;
    // entries with an idbase never concat-compact (their stored values
    // are file-relative).
    minted: Long = 0L,
    idbase: Option[Long] = None)
    extends WriterCommitMessage {
  def liveRows: Long = rows - dvRows
  def bloomName: Option[String] =
    if (bloomCols.isEmpty) None else Some(BloomIndex.sidecarName(name))
}

/** A partitioned task commits SEVERAL staged files (one per partition
  * tuple it saw) in one message. */
private[sources] final case class StagedFileSet(files: Seq[StagedFile])
    extends WriterCommitMessage

private[sources] object StagedFileSet {
  /** Every staged file across a job's commit messages, whichever
    * message shape each task used. */
  def all(messages: Array[WriterCommitMessage]): Seq[StagedFile] =
    messages.toSeq.flatMap {
      case f: StagedFile => Seq(f)
      case s: StagedFileSet => s.files
    }
}

private[sources] class ManifestBatchWrite(path: String, schema: StructType,
    queryId: String, truncate: Boolean, retain: Boolean = false,
    maxSegments: Int = ManifestSink.DefaultMaxSegments,
    partCols: Seq[String] = Nil,
    replaceFilesFn: () => Map[String, Option[String]] =
      () => Map.empty[String, Option[String]],
    dynamicOverwrite: Boolean = false,
    // Some(id) = stage this commit into cross-table transaction `id`
    // (write option `txnStage`): the pointer lands at
    // [[ManifestSink.txnStagedPointerName]] — invisible — until
    // [[GraftTxn.commitAll]] swaps every member table at one commit
    // point. Plain appends only (no truncate / CoW / dynamic
    // overwrite): deferred-visibility destructive ops would need their
    // file GC deferred past the swap, which nothing here schedules.
    txnStage: Option[String] = None,
    // Declared write ordering (the Write already REQUIRED the sort, so
    // task rows arrive in it): stamped as `sorted` on written entries.
    sortBy: Seq[String] = Nil,
    // Commit provenance-tag override (write option `commitTag`) — see
    // [[ManifestWriteBuilder]].
    commitTag: Option[String] = None,
    // Bloom-indexed columns for written files — see [[BloomIndex]].
    bloomCols: Seq[String] = Nil,
    // mergeSchema evolution to apply at commit (under the publish lock,
    // before the manifest swap — same commit point as the data).
    newCols: Seq[StructField] = Nil,
    widens: Map[String, DataType] = Map.empty,
    // Enforced-CHECK snapshot at analysis — see [[ManifestWriteBuilder]].
    plannedChecks: Option[Set[String]] = None)
    extends BatchWrite {
  private val publishTag: String = commitTag.getOrElse(queryId)
  // Direct-construction convenience (tests, internal callers).
  def this(path: String, schema: StructType, queryId: String,
      truncate: Boolean, retain: Boolean, maxSegments: Int,
      partCols: Seq[String], replaceFiles: Set[String]) =
    this(path, schema, queryId, truncate, retain, maxSegments, partCols,
      () => replaceFiles.iterator.map(_ -> (None: Option[String])).toMap)

  private def staging: Path = Paths.get(path, s".staging-$queryId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    Files.createDirectories(staging)
    new ManifestWriterFactory(path, queryId, schema, partCols, sortBy,
      bloomCols)
  }

  /** Driver-side publish: exactly the winner attempts move into place;
    * the manifest (written via temp + atomic rename, BEFORE any retired
    * file is deleted) is the read barrier that makes the whole job's
    * output visible at once. Single-writer via the publish lock. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(path)
    val outerWinners = StagedFileSet.all(messages)
    val replaceFiles = replaceFilesFn()
    require(txnStage.isEmpty ||
        (!truncate && replaceFiles.isEmpty && !dynamicOverwrite),
      s"txnStage=${txnStage.getOrElse("")}: cross-table transactions " +
        "stage plain appends only — truncate, copy-on-write replacement " +
        "and dynamic partition overwrite retire committed files, and " +
        "their GC cannot be deferred past the transaction's swap")
    // A no-op commit (nothing written, nothing replaced, not a
    // truncate) publishes no generation: an UPDATE matching zero rows
    // must not pollute history or the change feed.
    if (outerWinners.isEmpty && replaceFiles.isEmpty && !truncate) {
      cleanupStaging()
      return
    }
    // Plain appends are conflict-free (they compose against whatever
    // manifest they find under the lock), so they queue up to the
    // holder's lease rather than failing at the short wait — two
    // concurrent backfills both land. Conflict-detecting shapes
    // (truncate, CoW replacement, dynamic overwrite) keep the short
    // wait: their plans go stale while queued, so contention should
    // surface early.
    val appendOnly = !truncate && replaceFiles.isEmpty && !dynamicOverwrite
    val acquireWait =
      if (appendOnly) ManifestSink.AppendAcquireWaitMs
      else ManifestSink.LockAcquireWaitMs
    ManifestSink.withPublishLock(dir, acquireWaitMs = acquireWait) {
      ManifestSink.requireNoConstraintDrift(dir, plannedChecks)
      // IDENTITY allocation ([[GraftIdentity]]): minted placeholders get
      // their per-file absolute bases HERE, serialized by the same lock
      // that orders every commit — queued concurrent appends allocate
      // disjoint ranges by construction. Shadows `winners` so the
      // stamped entries below carry idbase + exact identity stats.
      val winners = ManifestSink.identityAt(path) match {
        case Some(sp) => GraftIdentity.allocate(dir, sp, outerWinners)
        case None =>
          require(!outerWinners.exists(_.minted > 0),
            s"write into $path staged identity placeholders but the " +
              "table no longer declares an IDENTITY column — refusing " +
              "to publish unresolvable values")
          outerWinners
      }
      // mergeSchema: the evolved schema lands inside the same lock-held
      // critical section as the manifest swap — a reader sees either the
      // old schema without the new data or the new schema with it, and
      // the one interruptible gap (meta swapped, manifest not) leaves
      // only an extra all-null nullable column.
      SchemaEvolution.evolveMetaAtCommit(dir, newCols, widens)
      val generation = ManifestSink.committedGeneration(path)
      // Prior entries come from the manifest (self-describing — no
      // re-count) and are keyed OUT by winner name: if an append's task
      // file name collides with a prior commit's, the move below
      // replaces the file in place, so the manifest must carry the new
      // entry only, not both.
      val winnerNames = winners.map(_.name).toSet
      val txt = ManifestSink.manifestText(path, ManifestSink.ManifestName)
      val priorEqDeletes = ManifestSink.parseEqDeletes(txt)
      val segRefs = ManifestSink.segmentRefsFull(txt)
      val segEntries = segRefs.flatMap(r =>
        ManifestSink.parseEntries(ManifestSink.segmentTextStrict(path, r.name)))
      val inline = ManifestSink.parseEntries(txt)
      val priorAll = segEntries ++ inline
      // Copy-on-write retirement: every file this commit replaces must
      // still be committed — a file that vanished means a concurrent
      // rewrite won the race, and silently proceeding would resurrect
      // or double its rows. Fail loudly (optimistic concurrency).
      val missing = replaceFiles.keySet -- priorAll.map(_.name).toSet
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"replaceFiles names ${missing.mkString(", ")} are no longer " +
            s"committed in $path — a concurrent commit replaced them; " +
            "re-plan the merge against the current generation")
      // DV-drift check (same optimistic-concurrency bar as above): a
      // replaced file still committed by NAME whose deletion vector
      // changed since the planner read it means a concurrent
      // merge-on-read delete landed rows this rewrite never saw —
      // retiring the file now would resurrect them. Fail loudly;
      // mergeInto's retry loop re-plans against the new vector.
      locally {
        val priorByName = priorAll.iterator.map(e => e.name -> e.dv).toMap
        val drifted = replaceFiles.toSeq.sortBy(_._1).collect {
          case (n, dvAtScan) if priorByName.get(n).exists(_ != dvAtScan) => n
        }
        if (drifted.nonEmpty)
          throw new IllegalStateException(
            s"deletion vector changed on ${drifted.mkString(", ")} since " +
              s"this rewrite planned against $path — a concurrent " +
              "merge-on-read commit deleted rows in the replaced files; " +
              "re-plan the merge against the current generation")
      }
      // DYNAMIC PARTITION OVERWRITE: retire exactly the prior files
      // whose partition tuple appears among the written files' tuples.
      // Tuples come from recorded partValues (what the partitioned
      // writer stamps), falling back to the exact min == max identity
      // proof for legacy entries. A prior file that resolves NO tuple
      // cannot be classified — keeping it could resurrect overwritten
      // rows — so the commit refuses loudly rather than guess.
      val dynRetire: Set[String] =
        if (!dynamicOverwrite) Set.empty
        else {
          val specs = PartSpec.parseAll(partCols)
          def tupleOf(e: StagedFile): Option[Seq[String]] = {
            val vals = specs.map { sp =>
              e.partValues.get(sp.name).orElse(sp match {
                case _: IdentityPart => e.stats.find(_.col == sp.col) match {
                  case Some(st) if st.min == st.max && !st.hasNan &&
                      e.nullCounts.get(sp.col).contains(0L) => Some(st.min)
                  case _ => None
                }
                case _: BucketPart => None
              })
            }
            if (vals.exists(_.isEmpty)) None else Some(vals.map(_.get))
          }
          val written = winners.flatMap(tupleOf).toSet
          require(winners.forall(w => tupleOf(w).isDefined),
            "dynamic overwrite: a written file failed to prove its " +
              "partition tuple — partitioned writers must record tuples")
          val (unresolved, resolved) =
            priorAll.partition(e => tupleOf(e).isEmpty)
          val doomed = resolved
            .filter(e => written.contains(tupleOf(e).get)).map(_.name).toSet
          if (written.nonEmpty && unresolved.nonEmpty)
            throw new IllegalStateException(
              s"dynamic partition overwrite of $path cannot classify " +
                s"${unresolved.map(_.name).mkString(", ")} (no recorded or " +
                "provable partition tuple) — keeping them could resurrect " +
                "overwritten rows; cluster/rewrite the table to a " +
                "partition-aligned layout first")
          doomed
        }
      val retireNames = winnerNames ++ replaceFiles.keySet ++ dynRetire
      val prior =
        if (truncate) Seq.empty
        else priorAll.filterNot(f => retireNames.contains(f.name))
      ManifestSink.publishStaged(staging, dir, winners)
      // O(delta) append when no carried segment needs an entry removed
      // and the segment count stays under the collapse bound; otherwise
      // a full single-segment rewrite (truncate, a name collision inside
      // a segment, the every-MaxSegments-th merge, or a copy-on-write
      // replacement buried in a segment).
      val segTouched = segEntries.exists(e => retireNames.contains(e.name))
      // Commit-sequence stamp: the manifest entry records WHICH
      // generation committed the file, so equality deletes (older seq)
      // never apply to rows appended after them.
      val stamped = winners.map(_.copy(seq = generation + 1)).toSeq
      // Txn staging: a winner whose name collides with a committed
      // file would be REPLACED IN PLACE by the move above — mutating
      // live table state before the transaction's commit point. Task
      // file names are attempt-unique per queryId so this cannot
      // happen in practice; refuse loudly if it ever does.
      txnStage.foreach { id =>
        val collide = winnerNames.intersect(priorAll.map(_.name).toSet)
        require(collide.isEmpty,
          s"txnStage=$id: staged file names ${collide.mkString(", ")} " +
            s"collide with committed files of $path")
      }
      val stageAs = txnStage.map(ManifestSink.txnStagedPointerName)
      if (!truncate && !segTouched &&
          segRefs.size < maxSegments) {
        ManifestSink.publishDelta(dir, segRefs,
          inline.filterNot(f => retireNames.contains(f.name)),
          stamped, generation + 1, publishTag, retain, stageAs = stageAs)
      } else {
        // TRUNCATE clears pending equality deletes with the rows they
        // applied to; every other collapse carries them forward.
        ManifestSink.publishManifest(dir, prior ++ stamped, generation + 1,
          publishTag, retain,
          eqDeletes = if (truncate) Some(Nil) else None,
          stageAs = stageAs)
        // A staged collapse must NOT sweep: the live pointer still
        // references the old segments until the txn's swap.
        if (txnStage.isEmpty) ManifestSink.sweepSegments(dir)
      }
      // Replaced files leave the directory AFTER the swap (idempotent
      // GC) — unless retained history still references them. A retired
      // entry's deletion-vector sidecar goes with its data file.
      if (!retain && !ManifestSink.hasRetainedGenerations(path))
        priorAll.filter(e => (replaceFiles.contains(e.name) ||
              dynRetire.contains(e.name)) &&
            !winnerNames.contains(e.name))
          .flatMap(ManifestSink.ownedNames)
          .foreach(n => Files.deleteIfExists(dir.resolve(n)))
      if (truncate && !retain) {
        // Truncate semantics: prior commits' files leave the directory —
        // but only AFTER the manifest swap stopped referencing them
        // (idempotent GC, never a live manifest over deleted data).
        // A prior name a winner just replaced in place must survive.
        // In retention mode the retired files stay (older generations
        // still reference them) until expireSnapshots collects them.
        priorAll.filterNot(e => winnerNames.contains(e.name))
          .flatMap(ManifestSink.ownedNames)
          .foreach(n => Files.deleteIfExists(dir.resolve(n)))
        // Cleared equality-delete files go with the rows they covered.
        if (!ManifestSink.hasRetainedGenerations(path))
          priorEqDeletes.foreach(d => Files.deleteIfExists(dir.resolve(d.name)))
      }
    }
    cleanupStaging()
  }

  /** A failed job leaves the target exactly as it was. */
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    cleanupStaging()

  private def cleanupStaging(): Unit =
    if (Files.exists(staging)) {
      val ls = Files.list(staging)
      try ls.forEach(p => Files.deleteIfExists(p)) finally ls.close()
      Files.deleteIfExists(staging)
    }
}

private[sources] class ManifestWriterFactory(path: String, queryId: String,
    schema: StructType, partCols: Seq[String] = Nil,
    sortBy: Seq[String] = Nil, bloomCols: Seq[String] = Nil)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    // The columnar lane (filekind=parquet, resolved from the table
    // metadata like the codec) routes both the plain and the
    // partitioned shape to parquet children.
    val parquetKind = ManifestSink.filekindAt(path) == "parquet"
    // Identity spec resolved from the table meta (writers only mint
    // when the written schema actually carries the column).
    val identity = ManifestSink.identityAt(path)
      .filter(sp => schema.fieldNames.contains(sp.col))
    if (partCols.isEmpty && parquetKind)
      new ParquetDataWriter(path, queryId, schema, partitionId, taskId,
        bloomCols = bloomCols, identity = identity)
    else if (partCols.isEmpty)
      new NdjsonDataWriter(path, queryId, schema, partitionId, taskId,
        sortedCols = sortBy, bloomCols = bloomCols, identity = identity)
    else
      new PartitionedNdjsonDataWriter(path, queryId, schema, partCols,
        partitionId, taskId, sortedCols = sortBy, bloomCols = bloomCols,
        parquetKind = parquetKind, identity = identity)
  }
}

/** Byte counter over the buffered file stream — what gives the writer
  * its line-boundary byte offsets for sub-file block stats without a
  * flush or a stat. Counts LOGICAL bytes (this layer sits above the
  * buffer), so `count` is always the exact file offset of the next
  * byte. */
private[sources] final class CountingOutputStream(under: java.io.OutputStream)
    extends java.io.OutputStream {
  var count = 0L
  override def write(b: Int): Unit = { under.write(b); count += 1 }
  override def write(b: Array[Byte]): Unit = {
    under.write(b, 0, b.length); count += b.length
  }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    under.write(b, off, len); count += len
  }
  override def flush(): Unit = under.flush()
  override def close(): Unit = under.close()
}

/** A flattened nested-leaf reference: top-level field ordinal and
  * size, dotted path, intermediate (ordinal, struct size) steps, and
  * the leaf ordinal/type — the shared walk behind nested-leaf stats
  * and dotted bloom targets in BOTH data-file writer kinds. */
private[sources] final case class LeafRef(top: Int, topSize: Int,
    path: String, steps: Array[(Int, Int)], leafIdx: Int,
    leafType: DataType)

private[sources] object LeafRef {
  /** Every orderable struct leaf of `schema`, dotted-path flattened.
    * Zero cost for struct-free schemas (the list is empty). */
  def refsOf(schema: StructType): Array[LeafRef] =
    schema.fields.zipWithIndex.flatMap {
      case (f, i) => f.dataType match {
        case st: StructType =>
          def walk(cur: StructType, prefix: String,
              steps: List[(Int, Int)]): Seq[LeafRef] =
            cur.fields.zipWithIndex.flatMap { case (sf, j) =>
              sf.dataType match {
                case inner: StructType =>
                  walk(inner, prefix + sf.name + ".",
                    steps :+ (j -> inner.size))
                case lt if NdjsonCodec.statOrdering(lt).isDefined =>
                  Seq(LeafRef(i, st.size, prefix + sf.name,
                    steps.toArray, j, lt))
                case _ => Nil
              }
            }
          walk(st, f.name + ".", Nil)
        case _ => Nil
      }
    }.toArray

  /** Resolve `bloomCols` spellings to hashing targets: a top-level
    * field ordinal or a nested LEAF ref — a point lookup on "u.geo.id"
    * skips files exactly like one on a top-level id. */
  def bloomTargetsOf(schema: StructType, leafCols: Array[LeafRef],
      bloomCols: Seq[String]): Array[(String, DataType, Either[Int, LeafRef])] =
    bloomCols.flatMap { c =>
      schema.fields.zipWithIndex.collectFirst {
        case (f, i) if f.name == c && BloomIndex.supported(f.dataType) =>
          (c, f.dataType, Left(i): Either[Int, LeafRef])
      }.orElse(leafCols.find(l =>
          l.path == c && BloomIndex.supported(l.leafType))
        .map(l => (c, l.leafType, Right(l): Either[Int, LeafRef])))
    }.toArray

  /** Extract the leaf value of `l` from a row, null when any step of
    * the path is null. */
  def leafValue(l: LeafRef, record: InternalRow): Any = {
    if (record.isNullAt(l.top)) return null
    var cur: InternalRow = record.getStruct(l.top, l.topSize)
    var k = 0
    while (k < l.steps.length && cur != null) {
      val (si, ssize) = l.steps(k)
      cur = if (cur.isNullAt(si)) null else cur.getStruct(si, ssize)
      k += 1
    }
    if (cur == null || cur.isNullAt(l.leafIdx)) null
    else cur.get(l.leafIdx, l.leafType)
  }
}

/** Growable buffer of bloom key hashes, capped at
  * [[BloomIndex.MaxKeys]] (past the cap the sidecar is not built —
  * `alive` false drops the claim, never lies). */
private[sources] final class HashBuf {
  var a: Array[Long] = new Array[Long](1024)
  var n = 0
  var alive = true
  def add(h: Long): Unit =
    if (alive) {
      if (n == BloomIndex.MaxKeys) { alive = false; a = null }
      else {
        if (n == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
        a(n) = h
        n += 1
      }
    }
}

/** Executor-side writer: NDJSON rows into an ATTEMPT-UNIQUE staged file —
  * attempt uniqueness is what lets speculative/retried duplicates coexist
  * until winners are picked. Batch names carry (partition, task) and are
  * already attempt-unique. Streaming names must be epoch-deterministic
  * when PUBLISHED (that is what makes an epoch replay replace its own
  * files), so the writer stages under `<name>.a<taskId>` and renames to
  * the deterministic name at task commit: a losing attempt's abort can
  * only ever delete its own staged bytes, never the winner's. */
private[sources] class NdjsonDataWriter(path: String, queryId: String,
    schema: StructType, partitionId: Int, taskId: Long,
    epochId: Option[Long] = None, suffix: String = "",
    sortedCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
    identity: Option[GraftIdentity.Spec] = None)
    extends DataWriter[InternalRow] {
  // IDENTITY minting ([[GraftIdentity]]): a null arriving in the
  // identity column stores the next NEGATIVE local placeholder (the
  // commit allocates the file's absolute base); a non-null value is a
  // carried-through absolute (copy-on-write rewrites) and must be
  // non-negative. Placeholders stay OUT of the normal stat tracking —
  // carried bounds accumulate separately and the commit merges them
  // with the exact minted range, while block-level identity stats are
  // dropped entirely (a block mixing carried and minted rows has no
  // honest relative bounds).
  private val idIdx: Int =
    identity.map(sp => schema.fieldIndex(sp.col)).getOrElse(-1)
  private var mintedCount = 0L
  private var idMin = Long.MaxValue
  private var idMax = Long.MinValue
  private var idCarried = false
  // `suffix` distinguishes a partitioned task's per-tuple files. It is a
  // pure function of the partition VALUES, so streaming names stay
  // epoch-deterministic (replays regenerate the same names) and batch
  // names stay attempt-unique via taskId.
  private val name = epochId match {
    case Some(e) => f"part-e$e%05d-$partitionId%05d$suffix.ndjson"
    case None => f"part-$partitionId%05d-$taskId$suffix.ndjson"
  }
  private val staging = Paths.get(path, s".staging-$queryId")
  // Streaming: stage attempt-unique, publish-name at commit (below).
  private val stagedName =
    if (epochId.isDefined) s"$name.a$taskId" else name
  private val file = staging.resolve(stagedName)
  // BYTE-LEVEL output (the writer-side twin of the reader's
  // parseBytesSelect): rows render straight to a buffered byte stream —
  // string payloads escape from their UTF8String BYTES (clean runs
  // bulk-copied, multi-byte sequences pass through untouched), so the
  // ingest hot path never materializes a per-row java String or pays
  // the per-char encoder. Key prefixes pre-encode once per writer.
  // Codec wrap sits BELOW the byte counter, so `out.count` is always
  // the LOGICAL (uncompressed) offset — the domain deletion vectors,
  // `_pos` and block boundaries live in on both the write and read
  // side.
  private val codec: String = ManifestSink.codecAt(path)
  // PHYSICAL (compressed) byte counter, directly above the buffered file
  // stream: frame/member boundaries land at phys.count after each seal —
  // what block entries record as `physStart` so range reads can seek.
  // Plain files skip the extra layer entirely.
  private val phys: CountingOutputStream =
    if (codec.isEmpty) null
    else new CountingOutputStream(new java.io.BufferedOutputStream(
      Files.newOutputStream(file), 1 << 16))
  // Codec layer, REPLACEABLE: sealing at a block boundary makes every
  // block independently decodable from its frame start. gzip streams
  // cannot restart a member, so sealing finishes the current one and
  // the NEXT member opens lazily on the next write (a file ending right
  // at a boundary gets no empty trailing member); zstd seals frames in
  // place (closeFrameOnFlush: flush() writes the frame epilogue, the
  // next write opens a new frame).
  private var codecLayer: java.io.OutputStream = codec match {
    case "gzip" => new java.util.zip.GZIPOutputStream(phys, 1 << 16)
    case "zstd" =>
      val z = new com.github.luben.zstd.ZstdOutputStream(phys)
      z.setCloseFrameOnFlush(true)
      z
    case _ => null
  }
  private val out = new CountingOutputStream(
    if (phys == null)
      new java.io.BufferedOutputStream(Files.newOutputStream(file), 1 << 16)
    else new java.io.OutputStream {
      private def layer: java.io.OutputStream = {
        if (codecLayer == null) // gzip member sealed: open the next
          codecLayer = new java.util.zip.GZIPOutputStream(phys, 1 << 16)
        codecLayer
      }
      override def write(b: Int): Unit = layer.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        layer.write(b, off, len)
      override def flush(): Unit =
        if (codecLayer != null) codecLayer.flush()
      override def close(): Unit = // either way phys closes underneath
        if (codecLayer != null) codecLayer.close() else phys.close()
    })
  private var rows = 0L
  private val keyPrefix: Array[Array[Byte]] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      ((if (i == 0) "{\"" else ",\"") + f.name + "\":")
        .getBytes(StandardCharsets.UTF_8)
    }.toArray
  private val NullBytes = "null".getBytes(StandardCharsets.UTF_8)
  private val HexDigits = "0123456789abcdef".getBytes(StandardCharsets.UTF_8)
  private val EscU00 = "\\u00".getBytes(StandardCharsets.UTF_8)

  /** Stream one UTF8String's bytes JSON-escaped — bit-identical to
    * [[NdjsonCodec.escape]] (quote/backslash/\n/\r/\t named, every
    * other control byte as \u00XX; bytes >= 0x80 are UTF-8
    * continuation/lead bytes and pass through raw). Clean runs copy in
    * one bulk write. */
  private def writeEscaped(u: UTF8String): Unit = {
    val bytes = u.getBytes
    val n = bytes.length
    var s = 0
    var j = 0
    while (j < n) {
      val b = bytes(j)
      if (b == '"' || b == '\\' || (b >= 0 && b < 0x20)) {
        if (j > s) out.write(bytes, s, j - s)
        out.write('\\')
        b match {
          case '"' => out.write('"')
          case '\\' => out.write('\\')
          case '\n' => out.write('n')
          case '\r' => out.write('r')
          case '\t' => out.write('t')
          case _ =>
            out.write(EscU00, 1, 3) // "u00"
            out.write(HexDigits((b >> 4) & 0xF))
            out.write(HexDigits(b & 0xF))
        }
        s = j + 1
      }
      j += 1
    }
    if (n > s) out.write(bytes, s, n - s)
  }

  // One renderer per field, resolved from the DataType up front — never
  // a toString fallback (unsupported types were rejected at the write
  // builder; this re-throws if one slips through).
  private val renderers: Array[Any => String] =
    schema.fields.map(f => NdjsonCodec.renderer(f.dataType))

  // Per-file column bounds, maintained as rows stream through (the
  // parquet-footer idea): orderable types only; NaN never updates a
  // bound (a [NaN, NaN] range would prune every filter).
  private val comparators: Array[Ordering[Any]] =
    schema.fields.map(f => NdjsonCodec.statOrdering(f.dataType).orNull)
  // `mins`/`maxs`/`nanSeen` track the CURRENT sub-file BLOCK (see
  // [[StagedFile.blocks]]); file-level bounds fold in at each block
  // close, so the per-row cost is identical to file-only tracking.
  private val mins = new Array[Any](schema.fields.length)
  private val maxs = new Array[Any](schema.fields.length)
  // NaN presence per float/double column: NaN never enters the bounds
  // (Spark orders it above everything — a [NaN, NaN] range would prune
  // every filter), but its PRESENCE must be recorded so the scan knows
  // the recorded max is not an upper bound for this file.
  private val nanSeen = new Array[Boolean](schema.fields.length)
  private val fileMins = new Array[Any](schema.fields.length)
  private val fileMaxs = new Array[Any](schema.fields.length)
  private val fileNan = new Array[Boolean](schema.fields.length)

  // NESTED-LEAF bounds (round 14): Spark pushes nested-leaf predicates
  // as dotted-name V1 filters ("u.geo.lat"), so the writer records
  // min/max under the same spelling for every orderable struct leaf —
  // at FILE and BLOCK granularity, like top-level columns; null counts
  // untracked (IsNull proofs stand down on absence, never lie). Zero
  // cost for struct-free schemas (the leaf list is empty).
  private val leafCols: Array[LeafRef] = LeafRef.refsOf(schema)
  private val leafCmp: Array[Ordering[Any]] =
    leafCols.map(l => NdjsonCodec.statOrdering(l.leafType).orNull)
  private val leafRender: Array[Any => String] =
    leafCols.map(l => NdjsonCodec.renderer(l.leafType))
  // Leaf bounds track the CURRENT BLOCK like the top-level arrays do;
  // file-level leaf bounds fold in at each block close, so a sorted-by-
  // leaf corpus block-prunes on leaf predicates too.
  private val leafMins = new Array[Any](leafCols.length)
  private val leafMaxs = new Array[Any](leafCols.length)
  private val leafNan = new Array[Boolean](leafCols.length)
  private val leafFileMins = new Array[Any](leafCols.length)
  private val leafFileMaxs = new Array[Any](leafCols.length)
  private val leafFileNan = new Array[Boolean](leafCols.length)

  private def trackLeaves(record: InternalRow): Unit = {
    var lc = 0
    while (lc < leafCols.length) {
      val l = leafCols(lc)
      if (!record.isNullAt(l.top)) {
        var cur: InternalRow = record.getStruct(l.top, l.topSize)
        var k = 0
        while (k < l.steps.length && cur != null) {
          val (si, ssize) = l.steps(k)
          cur = if (cur.isNullAt(si)) null else cur.getStruct(si, ssize)
          k += 1
        }
        if (cur != null && !cur.isNullAt(l.leafIdx)) {
          val v = cur.get(l.leafIdx, l.leafType)
          if (NdjsonCodec.isNaN(v)) leafNan(lc) = true
          else if (leafCmp(lc) != null) {
            def owned: Any = v match {
              case s: UTF8String => s.clone() // reused buffer, see above
              case other => other
            }
            if (leafMins(lc) == null || leafCmp(lc).lt(v, leafMins(lc)))
              leafMins(lc) = owned
            if (leafMaxs(lc) == null || leafCmp(lc).gt(v, leafMaxs(lc)))
              leafMaxs(lc) = owned
          }
        }
      }
      lc += 1
    }
  }

  /** One column's bound tokens (the statsOf rendering rules, single
    * column) — shared by the nested-leaf stats. */
  private def statTokens(name: String, dt: DataType, render: Any => String,
      mn: Any, mx: Any, nan: Boolean): Option[ColStat] =
    if (mn == null) None
    else dt match {
      case StringType =>
        val lo = NdjsonCodec.truncLower(mn.asInstanceOf[UTF8String].toString)
        NdjsonCodec.truncUpper(mx.asInstanceOf[UTF8String].toString).map { hi =>
          ColStat(name, "\"" + NdjsonCodec.escape(lo) + "\"",
            "\"" + NdjsonCodec.escape(hi) + "\"")
        }
      case _ => Some(ColStat(name, render(mn), render(mx), hasNan = nan))
    }
  // Blocks apply to compressed files too: the writer SEALS the codec
  // frame at every boundary (see `sealFrame`), so each block decodes
  // independently from its recorded physical offset — compression no
  // longer forfeits split reads or block-range pruning. blockBytes
  // measures LOGICAL bytes; at the default 16 MB granularity the
  // per-frame ratio cost is negligible.
  private val blockBytes: Long = ManifestSink.blockBytesAt(path)
  private var blockStart = 0L
  private var blockRows = 0L
  // Physical offset where the CURRENT block's frame begins (compressed
  // writers only; plain blocks record -1 — their logical offsets ARE
  // file offsets).
  private var frameStartPhys = 0L
  private val closedBlocks = collection.mutable.ArrayBuffer[
    (Long, Long, Long, Array[Any], Array[Any], Array[Boolean], Long,
      Array[Any], Array[Any], Array[Boolean])]()

  /** End the current compression frame at the underlying stream and
    * position `frameStartPhys` at the next frame's first byte. */
  private def sealFrame(): Unit =
    if (phys != null) codecLayer match {
      case null => () // gzip member already sealed, nothing buffered
      case g: java.util.zip.GZIPOutputStream =>
        g.finish() // completes the member without closing phys
        frameStartPhys = phys.count
        codecLayer = null // next write opens the next member lazily
      case z =>
        z.flush() // closeFrameOnFlush: frame epilogue + downstream flush
        frameStartPhys = phys.count
    }

  private def foldBlockIntoFile(): Unit = {
    var i = 0
    while (i < schema.fields.length) {
      val cmp = comparators(i)
      if (cmp != null) {
        if (mins(i) != null &&
            (fileMins(i) == null || cmp.lt(mins(i), fileMins(i))))
          fileMins(i) = mins(i)
        if (maxs(i) != null &&
            (fileMaxs(i) == null || cmp.gt(maxs(i), fileMaxs(i))))
          fileMaxs(i) = maxs(i)
      }
      if (nanSeen(i)) fileNan(i) = true
      i += 1
    }
    var lc = 0
    while (lc < leafCols.length) {
      val cmp = leafCmp(lc)
      if (cmp != null) {
        if (leafMins(lc) != null &&
            (leafFileMins(lc) == null || cmp.lt(leafMins(lc), leafFileMins(lc))))
          leafFileMins(lc) = leafMins(lc)
        if (leafMaxs(lc) != null &&
            (leafFileMaxs(lc) == null || cmp.gt(leafMaxs(lc), leafFileMaxs(lc))))
          leafFileMaxs(lc) = leafMaxs(lc)
      }
      if (leafNan(lc)) leafFileNan(lc) = true
      lc += 1
    }
  }

  /** Seal the current block at `endOffset` (a line boundary): snapshot
    * its bounds, fold them into the file bounds, reset accumulators.
    * `seal = false` for the trailing block at commit — the stream's own
    * close finishes the final frame, so re-opening a layer there would
    * only append an empty member. */
  private def closeBlock(endOffset: Long, seal: Boolean = true): Unit = {
    val ps = if (phys == null) -1L else frameStartPhys
    if (seal) sealFrame()
    closedBlocks += ((blockStart, endOffset, blockRows,
      mins.clone(), maxs.clone(), nanSeen.clone(), ps,
      leafMins.clone(), leafMaxs.clone(), leafNan.clone()))
    foldBlockIntoFile()
    java.util.Arrays.fill(mins.asInstanceOf[Array[AnyRef]], null)
    java.util.Arrays.fill(maxs.asInstanceOf[Array[AnyRef]], null)
    java.util.Arrays.fill(nanSeen, false)
    java.util.Arrays.fill(leafMins.asInstanceOf[Array[AnyRef]], null)
    java.util.Arrays.fill(leafMaxs.asInstanceOf[Array[AnyRef]], null)
    java.util.Arrays.fill(leafNan, false)
    blockStart = endOffset
    blockRows = 0L
  }
  // Per-column null counts (Iceberg's null_value_counts): bounds ignore
  // nulls, so pruning IS NULL / IS NOT NULL — and PROVING every row of
  // a file matches a predicate (metadata-only DELETE) — needs them.
  private val nullCounts = new Array[Long](schema.fields.length)

  // SORT-STAMP VERIFICATION: the declared `sortBy` ordering is REQUIRED
  // of Spark by the Write, but the stamp is load-bearing (a sort-merge
  // join TRUSTS it and skips its sorts), so the writer independently
  // verifies each row against its predecessor — ascending, nulls
  // first, NaN last, the exact order Spark's sort produces — and a
  // violation silently DROPS the stamp (sound: the scan then claims
  // nothing) rather than committing a lie. Streaming epochs take the
  // same path, which is what lets stream-written silver tables claim
  // ordering at all.
  private val sortIdx: Array[Int] =
    sortedCols.map(c => schema.fieldIndex(c)).toArray
  private val sortOrds: Array[Ordering[Any]] =
    sortIdx.map(i => NdjsonCodec.statOrdering(schema.fields(i).dataType).orNull)
  private var sortValid = sortIdx.nonEmpty && sortOrds.forall(_ != null)
  private var prevSortKey: Array[Any] = null
  private def checkSorted(record: InternalRow): Unit = {
    val cur = new Array[Any](sortIdx.length)
    var j = 0
    while (j < sortIdx.length) {
      cur(j) =
        if (record.isNullAt(sortIdx(j))) null
        else record.get(sortIdx(j), schema.fields(sortIdx(j)).dataType) match {
          case u: UTF8String => u.clone() // buffers are reused across rows
          case other => other
        }
      j += 1
    }
    if (prevSortKey != null) {
      var k = 0
      var decided = false
      while (k < cur.length && !decided) {
        val a = prevSortKey(k); val b = cur(k)
        val c =
          if (a == null && b == null) 0
          else if (a == null) -1 // nulls first
          else if (b == null) 1
          else sortOrds(k).compare(a, b)
        if (c < 0) decided = true
        else if (c > 0) { sortValid = false; decided = true }
        else k += 1
      }
    }
    prevSortKey = cur
  }

  // True for the fields whose values take the byte-escape fast path.
  private val isStringField: Array[Boolean] =
    schema.fields.map(_.dataType == StringType)

  // BLOOM INDEX buffers (see [[BloomIndex]]): one growable array of
  // packed hash pairs per configured, supported column — the filter is
  // sized exactly at commit (m from the real key count), so the write
  // path buffers 8 bytes per non-null value instead of guessing a
  // size. A column that exceeds [[BloomIndex.MaxKeys]] stands down
  // (buffer freed, no index) — a saturated bloom skips nothing and
  // still costs planning a sidecar read.
  // Bloom targets: a top-level field index, or a nested LEAF (dotted
  // path) resolved through the same flattened refs the stat tracker
  // uses — a point lookup on "u.geo.id" skips files exactly like one
  // on a top-level id.
  private val bloomTargets: Array[(String, DataType, Either[Int, LeafRef])] =
    LeafRef.bloomTargetsOf(schema, leafCols, bloomCols)
  private val bloomBufs: Array[HashBuf] = bloomTargets.map(_ => new HashBuf)

  override def write(record: InternalRow): Unit = {
    if (sortValid) checkSorted(record)
    if (schema.fields.isEmpty) out.write('{') // zero-column degenerate row
    var i = 0
    while (i < schema.fields.length) {
      out.write(keyPrefix(i))
      if (i == idIdx) {
        val stored =
          if (record.isNullAt(i)) {
            val p = GraftIdentity.encode(mintedCount); mintedCount += 1; p
          } else {
            val v = record.getLong(i)
            require(v >= 0,
              s"identity column '${schema.fields(i).name}' received a " +
                s"negative value $v — explicit values are not assignable " +
                "and carried-through rows are always non-negative")
            idCarried = true
            if (v < idMin) idMin = v
            if (v > idMax) idMax = v
            v
          }
        out.write(java.lang.Long.toString(stored)
          .getBytes(StandardCharsets.UTF_8))
      } else if (record.isNullAt(i)) { out.write(NullBytes); nullCounts(i) += 1 }
      else {
        val v = record.get(i, schema.fields(i).dataType)
        if (isStringField(i)) {
          out.write('"')
          writeEscaped(v.asInstanceOf[UTF8String])
          out.write('"')
        } else
          out.write(renderers(i)(v).getBytes(StandardCharsets.UTF_8))
        val cmp = comparators(i)
        if (NdjsonCodec.isNaN(v)) nanSeen(i) = true
        if (cmp != null && !NdjsonCodec.isNaN(v)) {
          // Defensive copy: a UTF8String from an UnsafeRow is a VIEW
          // into a buffer Spark reuses across rows — holding the
          // reference would silently track the LAST row, not the min.
          def owned: Any = v match {
            case s: UTF8String => s.clone()
            case other => other
          }
          if (mins(i) == null || cmp.lt(v, mins(i))) mins(i) = owned
          if (maxs(i) == null || cmp.gt(v, maxs(i))) maxs(i) = owned
        }
      }
      i += 1
    }
    out.write('}')
    out.write('\n')
    blockRows += 1
    // Leaf bounds MUST accumulate before the block-close check below,
    // exactly like the top-level min/max tracked during rendering: the
    // record that trips the boundary is byte-wise INSIDE the block
    // being closed, so its leaf extrema belong to that block's
    // snapshot. Tracking after closeBlock would leak a block-local
    // extremum into the next block and let leaf block pruning skip a
    // block that contains matching rows.
    if (leafCols.length > 0) trackLeaves(record)
    // Block boundary at the first line end past the granularity. The
    // count cap leaves headroom for the trailing block commit() seals.
    if (blockBytes > 0 && out.count - blockStart >= blockBytes &&
        closedBlocks.size < ManifestSink.MaxBlocksPerFile - 1)
      closeBlock(out.count)
    var b = 0
    while (b < bloomTargets.length) {
      val (_, dt, tgt) = bloomTargets(b)
      tgt match {
        case Left(i) =>
          if (!record.isNullAt(i))
            // Hash immediately — the UTF8String is a view into a buffer
            // Spark reuses across rows, so nothing here may retain it.
            bloomBufs(b).add(BloomIndex.hashPair(dt, record.get(i, dt)))
        case Right(l) =>
          if (!record.isNullAt(l.top)) {
            var cur: InternalRow = record.getStruct(l.top, l.topSize)
            var k = 0
            while (k < l.steps.length && cur != null) {
              val (si, ssize) = l.steps(k)
              cur = if (cur.isNullAt(si)) null else cur.getStruct(si, ssize)
              k += 1
            }
            if (cur != null && !cur.isNullAt(l.leafIdx))
              bloomBufs(b).add(BloomIndex.hashPair(dt, cur.get(l.leafIdx, dt)))
          }
      }
      b += 1
    }
    rows += 1
  }

  /** Render one bounds snapshot to stat tokens. String bounds truncate
    * parquet-style so an extreme megabyte document never rides in the
    * manifest: min takes a plain prefix (always a valid lower bound),
    * max takes a prefix with its last codepoint incremented (valid
    * upper bound), or drops the whole stat if no finite bound exists
    * at this length. All-null/all-NaN columns carry no bounds. */
  private def statsOf(mn: Array[Any], mx: Array[Any],
      nan: Array[Boolean]): Seq[ColStat] =
    schema.fields.indices.flatMap { i =>
      if (mn(i) == null) None
      else schema.fields(i).dataType match {
        case StringType =>
          val lo = NdjsonCodec.truncLower(mn(i).asInstanceOf[UTF8String].toString)
          NdjsonCodec.truncUpper(mx(i).asInstanceOf[UTF8String].toString)
            .map { hi =>
              ColStat(schema.fields(i).name,
                "\"" + NdjsonCodec.escape(lo) + "\"",
                "\"" + NdjsonCodec.escape(hi) + "\"")
            }
        case _ =>
          Some(ColStat(schema.fields(i).name,
            renderers(i)(mn(i)), renderers(i)(mx(i)), hasNan = nan(i)))
      }
    }

  override def commit(): WriterCommitMessage = {
    out.close()
    val finalStaged = if (epochId.isDefined) {
      // Claim the deterministic epoch name. Task commit is the point
      // Spark has picked this attempt; a concurrent zombie's staged
      // file lives under ITS attempt-unique name and cannot clobber
      // this one.
      val dst = staging.resolve(name)
      Publish.move(file, dst)
      dst
    } else file
    // Seal the trailing block (only files that already closed one
    // record blocks at all — a single-block file's bounds ARE its
    // file-level stats), then fold whatever is open into the file
    // bounds.
    if (closedBlocks.nonEmpty && blockRows > 0)
      closeBlock(out.count, seal = false)
    else foldBlockIntoFile()
    def leafStatsOf(lmn: Array[Any], lmx: Array[Any],
        lnan: Array[Boolean]): Seq[ColStat] =
      leafCols.indices.flatMap(lc =>
        statTokens(leafCols(lc).path, leafCols(lc).leafType, leafRender(lc),
          lmn(lc), lmx(lc), lnan(lc)))
    val stats = statsOf(fileMins, fileMaxs, fileNan) ++
      leafStatsOf(leafFileMins, leafFileMaxs, leafFileNan)
    val blocks: Seq[BlockStat] =
      if (closedBlocks.size < 2) Nil
      else closedBlocks.toSeq.map {
        case (s, e, r, mn, mx, nan, ps, lmn, lmx, lnan) =>
          BlockStat(s, e, r,
            statsOf(mn, mx, nan) ++ leafStatsOf(lmn, lmx, lnan), ps)
      }
    val (bloomNames, kmvSketches) = ManifestSink.publishBlooms(
      staging, name, bloomTargets.map(_._1), bloomBufs)
    // Identity: carried-row bounds only (the commit merges the exact
    // minted range in); all-minted files carry no writer-side stat.
    val idStats =
      if (idIdx >= 0 && idCarried)
        Seq(ColStat(schema.fields(idIdx).name, idMin.toString,
          idMax.toString))
      else Nil
    // Size recorded here (one executor-local stat of a file we just
    // wrote) so the scan never has to ask the filesystem at plan time.
    StagedFile(name, rows, stats.toSeq ++ idStats, Files.size(finalStaged),
      schema.fields.indices.map(i =>
        schema.fields(i).name -> nullCounts(i)).toMap,
      sorted = if (sortValid) sortedCols else Nil,
      bloomCols = bloomNames,
      blocks = blocks,
      codec = codec,
      kmv = kmvSketches,
      minted = mintedCount)
  }

  override def abort(): Unit = {
    out.close()
    // Only this attempt's staged bytes — never the deterministic name a
    // winning attempt may already have claimed.
    Files.deleteIfExists(file)
  }

  override def close(): Unit = ()
}

/** Hive/Iceberg-style partitioned writes: each task routes rows to one
  * child file PER PARTITION TUPLE it sees. The payoff is in the
  * manifest, not the directory layout — a file holding one tuple's rows
  * records min == max for every partition column, so the EXISTING
  * bounds-based file skipping prunes `part = x` (and IN / range)
  * scans exactly, the way partition pruning does in a real table format.
  *
  * File names carry a digest of the tuple's RENDERED values (not the
  * values themselves — they are arbitrary user data): deterministic per
  * (epoch, sparkPartition, tuple), so streaming epoch replays regenerate
  * and replace their own names. Callers should repartition by the
  * partition columns before writing, or every task emits a file per
  * tuple it sees (the classic small-files hazard — same advice as Hive's
  * dynamic partitioning).
  */
private[sources] class PartitionedNdjsonDataWriter(path: String,
    queryId: String, schema: StructType, partCols: Seq[String],
    partitionId: Int, taskId: Long, epochId: Option[Long] = None,
    sortedCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
    // Columnar lane: children are parquet writers (same routing, same
    // per-tuple manifest discipline; the child kind is the only delta).
    parquetKind: Boolean = false,
    identity: Option[GraftIdentity.Spec] = None)
    extends DataWriter[InternalRow] {
  private val specs: Array[PartSpec] = PartSpec.parseAll(partCols).toArray
  private val idx: Array[Int] = specs.map(sp => schema.fieldIndex(sp.col))
  private val renderers: Array[Any => String] =
    idx.map(i => NdjsonCodec.renderer(schema.fields(i).dataType))
  private val children =
    collection.mutable.LinkedHashMap[String, DataWriter[InternalRow]]()
  // Partition-tuple values (rendered JSON literals / bucket ids) per
  // child — recorded EXPLICITLY on each entry: identity values are
  // re-derivable from min == max bounds, bucket ids are not.
  private val childParts =
    collection.mutable.HashMap[String, Map[String, String]]()

  /** One spec's rendered value for this row: the column's JSON literal
    * for identity, the hash bucket id for bucket transforms. */
  private def partValue(j: Int, r: InternalRow): String = {
    val i = idx(j)
    val dt = schema.fields(i).dataType
    specs(j) match {
      case _: IdentityPart =>
        if (r.isNullAt(i)) "null" else renderers(j)(r.get(i, dt))
      case BucketPart(n, _) =>
        GraftBucket.bucket(n,
          if (r.isNullAt(i)) null else r.get(i, dt), dt).toString
    }
  }

  private def tupleValues(r: InternalRow): Array[String] =
    Array.tabulate(specs.length)(j => partValue(j, r))

  private def tupleKey(vals: Array[String]): String =
    // Separator is unambiguous: rendered values are JSON literals
    // (strings quoted and escaped) or bare ints; a raw space never
    // splits one.
    vals.mkString(" ")

  private def digest(key: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(key.getBytes(StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
  }

  override def write(record: InternalRow): Unit = {
    val vals = tupleValues(record)
    val key = tupleKey(vals)
    if (!children.contains(key) &&
        children.size >= PartitionedNdjsonDataWriter.MaxOpenTuples)
      throw new IllegalStateException(
        s"task $partitionId holds ${children.size} open partition tuples " +
          s"(cap ${PartitionedNdjsonDataWriter.MaxOpenTuples}) — the " +
          "partitionBy column is too high-cardinality for a partition " +
          "layout, or the input is not clustered by it: repartition by " +
          "the partition columns before writing (Hive's " +
          "hive.exec.max.dynamic.partitions discipline)")
    children.getOrElseUpdate(key, {
      childParts(key) = specs.map(_.name).zip(vals).toMap
      // A per-tuple child sees a SUBSEQUENCE of the task's sorted
      // stream — still sorted, so the stamp carries through.
      if (parquetKind)
        new ParquetDataWriter(path, queryId, schema, partitionId, taskId,
          epochId, suffix = "-p" + digest(key), bloomCols = bloomCols,
          identity = identity)
      else
        new NdjsonDataWriter(path, queryId, schema, partitionId, taskId,
          epochId, suffix = "-p" + digest(key), sortedCols = sortedCols,
          bloomCols = bloomCols, identity = identity)
    }).write(record)
  }

  override def commit(): WriterCommitMessage =
    StagedFileSet(children.map { case (key, w) =>
      w.commit().asInstanceOf[StagedFile].copy(partValues = childParts(key))
    }.toSeq)

  override def abort(): Unit = children.values.foreach(_.abort())
  override def close(): Unit = children.values.foreach(_.close())
}

private[sources] object PartitionedNdjsonDataWriter {
  /** Cap on concurrently open per-tuple files in ONE task — each holds
    * a buffer and a file handle, so an unclustered high-cardinality
    * partition column would exhaust memory/handles silently; failing
    * loudly with the repartition advice is the Hive
    * `max.dynamic.partitions.pernode` discipline. */
  val MaxOpenTuples: Int = 1000
}
