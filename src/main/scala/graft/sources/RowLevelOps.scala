package graft.sources

import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, WriteBuilder}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** GROUP-BASED (copy-on-write) row-level operation over a manifest
  * table — what makes `DELETE` with a partially-overlapping predicate,
  * `UPDATE`, and `MERGE INTO` work through plain `spark.sql` (the
  * Iceberg copy-on-write shape; the reference's DELETE-then-INSERT
  * load loop, `dags/users_etl.py:206-214`, upgraded to the form
  * lakehouse users actually write).
  *
  * A "group" is a committed data FILE. Spark's rewrite rules
  * (`RewriteDeleteFromTable` / `RewriteUpdateTable` /
  * `RewriteMergeIntoTable`) plan: scan the candidate groups in full,
  * compute the post-operation rows, write them back; the connector's
  * job is to (a) serve complete groups — our scan prunes whole files
  * against manifest stats but never filters rows, exactly the
  * "complete groups" contract — and (b) atomically swap the scanned
  * files for the rewritten output in ONE manifest commit.
  *
  * Scale shape: static pushdown prunes files whose bounds exclude a
  * literal condition; for conditions that cannot be pushed (a MERGE
  * keyed on source-table values), Spark's runtime group filtering
  * evaluates the condition in a `_file`-projecting subquery over a
  * REGULAR scan and narrows this operation's scan to exactly the
  * files holding matching rows ([[ManifestScan.filter]]) — so a
  * 10-row upsert into a 10k-file table rewrites a handful of files,
  * never the table. A concurrent commit that retires a scanned file
  * first fails the swap loudly (optimistic concurrency — see
  * [[ManifestBatchWrite.commit]]'s replaceFiles validation). */
/** Scan→write handshake for row-level operations: the scan's plan
  * records WHAT IT READ (file names AND each file's deletion-vector
  * sidecar at scan time), and the write validates at commit time that
  * none of it moved underneath — the optimistic-concurrency snapshot.
  * Comparing the dv too is what makes two concurrent merge-on-read
  * commits on the same rows CONFLICT instead of silently merging
  * offsets (duplicate replacement rows), and makes a copy-on-write
  * rewrite racing a DV delete fail loudly instead of resurrecting the
  * concurrently deleted rows. */
private[sources] trait ScanRecorder {
  def recordScanned(entries: Seq[StagedFile]): Unit
}

private[sources] class GraftRowLevelOperation(path: String,
    tableSchema: StructType, partCols: Seq[String],
    props: Map[String, String], cmd: Command)
    extends RowLevelOperation with ScanRecorder {

  /** The groups the configured scan actually planned — file name →
    * deletion-vector sidecar at scan time, recorded AFTER static
    * pruning and runtime group filtering
    * ([[ManifestScan.planInputPartitions]]), consumed by the write at
    * commit time as the retire set (names) and the conflict-check
    * snapshot (dvs). None until the scan plans: a write that somehow
    * commits first fails loudly rather than guessing (replacing too
    * few files would resurrect rows). */
  @volatile private var planned: Option[Map[String, Option[String]]] = None
  override def recordScanned(entries: Seq[StagedFile]): Unit =
    planned = Some(entries.map(e => e.name -> e.dv).toMap)

  override def command(): Command = cmd
  override def description(): String = s"graft copy-on-write $cmd on $path"

  /** `_file` rides the row-level read relation so the runtime group
    * filter has an attribute to join scan-side groups against. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(ManifestSink.FileColumn))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ManifestScanBuilder(path, tableSchema, partCols = partCols,
      rowLevel = Some(this))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val bad = info.schema().fields
      .filterNot(f => NdjsonCodec.supported(f.dataType))
    require(bad.isEmpty,
      s"row-level $cmd writes flat primitive/temporal/binary columns only; " +
        s"unsupported: ${bad.map(f => s"${f.name}: ${f.dataType}").mkString(", ")}")
    new ManifestWriteBuilder(path, info.schema(), info.queryId(),
      truncate = false,
      retain = props.get("retainhistory").exists(_.toBoolean),
      partCols = partCols,
      replaceFiles = () => planned.getOrElse(throw new IllegalStateException(
        s"row-level $cmd write on $path committed before its scan planned " +
          "the affected file set — cannot determine which files to retire")),
      // Rewritten files keep the table's bloom indexing — a point
      // lookup must stay prunable across UPDATE/MERGE churn.
      bloomCols = ManifestSink.bloomColsOf(props, info.schema()),
      // Row-level writes carry new row VALUES, so they validate CHECKs
      // like inserts do — the drift check compares against what this
      // operation's analysis actually planted.
      plannedChecks = Some(GraftCatalog.enforcedCheckKeys(props)))
  }
}

/** POSITION-DELTA (merge-on-read) DELETE over a manifest table — the
  * Iceberg positional-delete / Delta deletion-vector idea: instead of
  * rewriting every file the predicate touches (copy-on-write, O(file
  * bytes) per touched file), the operation records the (_file, _pos)
  * identities of the matched rows and commits a tiny SIDECAR of
  * deleted byte offsets per file. The data files are never rewritten;
  * scans apply the vector (offset binary search per row) and
  * compaction materializes it later. At 100 TB this is the difference
  * between a 1-row DELETE costing a few KB and costing a full file
  * copy.
  *
  * Spark's `RewriteDeleteFromTable` sees [[SupportsDelta]] and plans a
  * `WriteDelta`: the scan reads only predicate-matched rows (file
  * skipping still prunes whole files first), projects this operation's
  * `rowId()` columns, and hands each matched row to
  * [[PositionDeltaWriter.delete]]. Metadata-only whole-file deletes
  * still take the `SupportsDelete` fast path before any of this plans.
  * Enabled per table via `deletionvectors=true` (TBLPROPERTIES). */
private[sources] class GraftPositionDeltaOperation(path: String,
    tableSchema: StructType, partCols: Seq[String],
    props: Map[String, String], cmd: Command)
    extends org.apache.spark.sql.connector.write.SupportsDelta
    with ScanRecorder {

  /** Scan-time snapshot (file → dv sidecar) for the commit's conflict
    * check: a touched file whose vector CHANGED since the scan means a
    * concurrent merge-on-read commit deleted rows we also planned
    * over — merging the offsets silently would duplicate UPDATE's
    * replacement rows, so the commit must fail loudly instead. */
  @volatile private var scanned: Option[Map[String, Option[String]]] = None
  override def recordScanned(entries: Seq[StagedFile]): Unit =
    scanned = Some(entries.map(e => e.name -> e.dv).toMap)

  override def command(): Command = cmd
  override def description(): String =
    s"graft merge-on-read (deletion vector) $cmd on $path"

  /** Row identity = (file, byte offset) — both plan-derived metadata
    * columns, zero payload cost. */
  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(ManifestSink.FileColumn),
    Expressions.column(ManifestSink.PosColumn))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ManifestScanBuilder(path, tableSchema, partCols = partCols,
      rowLevel = Some(this), fileFilter = true)

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new DvDeltaWrite(path, info.schema(), info.queryId(), partCols,
          bloomCols = ManifestSink.bloomColsOf(props, info.schema()),
          retain = props.get("retainhistory").exists(_.toBoolean),
          scannedDvs = () => scanned.getOrElse(throw new IllegalStateException(
            s"merge-on-read $cmd write on $path committed before its scan " +
              "planned — cannot validate the deletion-vector snapshot")),
          // UPDATE/MERGE replacement rows validate CHECKs like inserts;
          // the commit refuses if a constraint landed after analysis.
          plannedChecks = Some(GraftCatalog.enforcedCheckKeys(props)))
    }
}

private[sources] class DvDeltaWrite(path: String, schema: StructType,
    queryId: String, partCols: Seq[String], retain: Boolean,
    scannedDvs: () => Map[String, Option[String]],
    bloomCols: Seq[String] = Nil,
    plannedChecks: Option[Set[String]] = None)
    extends org.apache.spark.sql.connector.write.DeltaWrite {
  override def toBatch
      : org.apache.spark.sql.connector.write.DeltaBatchWrite =
    new DvDeltaBatchWrite(path, schema, queryId, partCols, retain,
      scannedDvs, bloomCols, plannedChecks)
}

/** Task-side commit message: the byte offsets this task deleted per
  * data file, plus the files it STAGED for replacement rows (UPDATE =
  * vector-delete the old position + append the new row; DELETE stages
  * nothing). The offset map is small by construction — a delete big
  * enough to make it large should have been a copy-on-write rewrite
  * (or a metadata-only whole-file delete, which never reaches this
  * path). */
private[sources] final case class DvDelta(deletes: Map[String, Array[Long]],
    staged: Seq[StagedFile])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[sources] class DvDeltaBatchWrite(path: String, schema: StructType,
    queryId: String, partCols: Seq[String], retain: Boolean,
    scannedDvs: () => Map[String, Option[String]],
    bloomCols: Seq[String] = Nil,
    plannedChecks: Option[Set[String]] = None)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {
  import java.nio.file.{Files, Paths}

  private def staging = Paths.get(path, s".staging-$queryId")

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory = {
    Files.createDirectories(staging)
    val inserts = new ManifestWriterFactory(path, queryId, schema, partCols,
      bloomCols = bloomCols)
    new org.apache.spark.sql.connector.write.DeltaWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long)
          : org.apache.spark.sql.connector.write.DeltaWriter[
            org.apache.spark.sql.catalyst.InternalRow] =
        new PositionDeltaWriter(() => inserts.createWriter(partitionId, taskId))
    }
  }

  /** Driver-side publish, single-writer under the table lock: per
    * touched file, merge the new offsets into the file's existing
    * vector (sidecars are IMMUTABLE and cumulative — a retained
    * snapshot keeps reading the vector it was committed with), write
    * the new sidecar, move any staged replacement-row files into place
    * (UPDATE's inserts), and swap the manifest ONCE — readers see the
    * vectors and the new rows atomically or not at all. A file whose
    * every physical row is now deleted drops out of the manifest
    * entirely — the vector never outgrows its file. */
  override def commit(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val all = collection.mutable.HashMap[String, collection.mutable.ArrayBuffer[Long]]()
    val winners = collection.mutable.ArrayBuffer[StagedFile]()
    messages.foreach {
      case DvDelta(m, staged) =>
        m.foreach { case (f, offs) =>
          all.getOrElseUpdate(f, collection.mutable.ArrayBuffer[Long]()) ++= offs
        }
        winners ++= staged
      case _ => ()
    }
    if (all.isEmpty && winners.isEmpty) {
      cleanupStaging() // matched zero rows: no generation, no feed noise
      return
    }
    val dir = Paths.get(path)
    ManifestSink.withPublishLock(dir) {
      ManifestSink.requireNoConstraintDrift(dir, plannedChecks)
      val entries = ManifestSink.committedEntries(path)
      val byName = entries.map(e => e.name -> e).toMap
      val missing = all.keySet.filterNot(byName.contains)
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"row-level write planned rows in files ${missing.mkString(", ")} " +
            s"that are no longer committed in $path — a concurrent commit " +
            "replaced them; re-run against the current generation")
      // DV-drift conflict check — ISOLATION BY OPERATION SHAPE:
      //  - A delta carrying REPLACEMENT ROWS (UPDATE / MERGE) validates
      //    strictly: a touched file whose vector changed since the scan
      //    means a concurrent row-level commit deleted/updated rows we
      //    also planned over — merging offsets silently would append
      //    BOTH commits' replacement rows (duplicate keys). Fail loudly
      //    like the CoW replaceFiles validation; callers retry against
      //    the new state (serializable over the touched files).
      //  - A PURE DELETE (no staged inserts) tolerates drift: position
      //    deletes are idempotent and commute — the merge under the
      //    publish lock unions the offset sets, so racing disjoint
      //    DELETEs all land (snapshot isolation, the Delta/Iceberg
      //    concurrent-delete behavior).
      if (winners.nonEmpty) {
        val atScan = scannedDvs()
        val drifted = all.keySet.toSeq.sorted.filter(f =>
          !atScan.get(f).contains(byName(f).dv))
        if (drifted.nonEmpty)
          throw new IllegalStateException(
            s"deletion vector changed on ${drifted.mkString(", ")} since " +
              s"this row-level operation scanned $path — a concurrent " +
              "merge-on-read commit deleted rows in the same files; re-run " +
              "against the current generation")
      }
      val gen = ManifestSink.committedGeneration(path)
      // IDENTITY allocation for the delta's staged INSERT files (an
      // UPDATE/MERGE replacement row that arrived with null identity —
      // a merge-on-read MERGE's not-matched inserts mint exactly like
      // a plain append; carried rows pass through absolute).
      val allocWinners = ManifestSink.identityAt(path) match {
        case Some(sp) =>
          GraftIdentity.allocate(dir, sp, winners.toSeq)
        case None =>
          require(!winners.exists(_.minted > 0),
            s"row-level write into $path staged identity placeholders " +
              "but the table declares no IDENTITY column")
          winners.toSeq
      }
      winners.clear()
      winners ++= allocWinners
      val keepHistory = retain || ManifestSink.hasRetainedGenerations(path)
      val retiredSidecars = collection.mutable.ArrayBuffer[String]()
      val deadFiles = collection.mutable.ArrayBuffer[String]()
      val updated = entries.flatMap { e =>
        all.get(e.name) match {
          case None => Some(e)
          case Some(offs) =>
            val prior = e.dv.map(d =>
              ManifestSink.readDvOffsets(path, d)).getOrElse(Array.empty[Long])
            val merged = (prior ++ offs).distinct.sorted
            require(merged.length <= e.rows,
              s"deletion vector for ${e.name} names ${merged.length} offsets " +
                s"but the file has only ${e.rows} rows — row identity drifted")
            e.dv.foreach(retiredSidecars += _)
            if (merged.length == e.rows) {
              // Every physical row deleted: the entry (and its file)
              // retires outright — a metadata delete, discovered late.
              deadFiles += e.name
              None
            } else {
              val sidecar = ManifestSink.dvSidecarName(e.name, gen + 1)
              ManifestSink.writeDvSidecar(dir, sidecar, merged)
              Some(e.copy(dv = Some(sidecar), dvRows = merged.length))
            }
        }
      }
      // UPDATE's replacement rows: into place BEFORE the swap, exactly
      // like the batch committer — invisible until the manifest names
      // them, orphaned (staging-swept) on a crash.
      ManifestSink.publishStaged(staging, dir, winners)
      ManifestSink.publishManifest(dir,
        updated ++ winners.map(_.copy(seq = gen + 1)), gen + 1,
        if (winners.isEmpty) "delete" else "update", retain)
      ManifestSink.sweepSegments(dir)
      if (!keepHistory) {
        deadFiles.foreach(n => Files.deleteIfExists(dir.resolve(n)))
        retiredSidecars.foreach(n => Files.deleteIfExists(dir.resolve(n)))
      }
    }
    cleanupStaging()
  }

  override def abort(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    cleanupStaging()

  private def cleanupStaging(): Unit =
    if (Files.exists(staging)) {
      val ls = Files.list(staging)
      try ls.forEach(p => Files.deleteIfExists(p)) finally ls.close()
      Files.deleteIfExists(staging)
    }
}

/** Executor-side collector: deleted row identities accumulate in
  * memory; UPDATE's replacement rows stream through a lazily-created
  * STAGED NDJSON writer (the same task writer every batch write uses —
  * attempt-unique names, stats, partition routing), so nothing becomes
  * visible until the driver's single manifest swap and an aborted task
  * leaves only staging files the committer sweeps. */
private[sources] class PositionDeltaWriter(
    newInsertWriter: () => org.apache.spark.sql.connector.write.DataWriter[
      org.apache.spark.sql.catalyst.InternalRow])
    extends org.apache.spark.sql.connector.write.DeltaWriter[
      org.apache.spark.sql.catalyst.InternalRow] {
  private val deletes =
    collection.mutable.HashMap[String, collection.mutable.ArrayBuffer[Long]]()
  private var inserts: org.apache.spark.sql.connector.write.DataWriter[
    org.apache.spark.sql.catalyst.InternalRow] = _

  override def delete(metadata: org.apache.spark.sql.catalyst.InternalRow,
      id: org.apache.spark.sql.catalyst.InternalRow): Unit = {
    val file = id.getUTF8String(0).toString
    val pos = id.getLong(1)
    deletes.getOrElseUpdate(file,
      collection.mutable.ArrayBuffer[Long]()) += pos
  }

  override def insert(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
    if (inserts == null) inserts = newInsertWriter()
    inserts.write(row)
  }

  /** Merge-on-read UPDATE: vector-delete the old position, append the
    * new row — the file holding the old row is never rewritten. */
  override def update(metadata: org.apache.spark.sql.catalyst.InternalRow,
      id: org.apache.spark.sql.catalyst.InternalRow,
      row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    val staged: Seq[StagedFile] =
      if (inserts == null) Nil
      else inserts.commit() match {
        case f: StagedFile => Seq(f)
        case StagedFileSet(fs) => fs
        case other => throw new IllegalStateException(
          s"unexpected insert-writer commit message: $other")
      }
    DvDelta(deletes.view.mapValues(_.toArray).toMap, staged)
  }

  override def abort(): Unit = if (inserts != null) inserts.abort()
  override def close(): Unit = if (inserts != null) inserts.close()
}
