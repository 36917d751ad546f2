package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** CROSS-TABLE ATOMIC COMMIT for manifest tables — the reference's O4
  * ("load users+addresses+companies all-or-nothing", one Postgres
  * transaction across three tables; `users_etl.py:140-159` in the
  * reference) lifted onto the table format. `Ingest.commitSnapshot`
  * already proves the single-pointer-swap idea on plain parquet
  * snapshot dirs; this is the same commit-point discipline for N
  * independent manifest tables, each with its own pointer:
  *
  *  1. STAGE: each table's write runs normally but publishes its
  *     pointer to an invisible per-txn name
  *     (`df.write.format(...).option("txnStage", id)` — see
  *     [[ManifestSink.txnStagedPointerName]]). Data files, segments
  *     and the staged pointer all land on disk; nothing references
  *     them, so readers and concurrent committers see no change.
  *     Staging takes no locks and holds none — the protocol is
  *     OPTIMISTIC (validated at commit), so slow multi-table writes
  *     never serialize behind each other.
  *  2. COMMIT ([[commitAll]]): under every member table's publish lock
  *     (acquired in canonical order — no deadlock), validate that no
  *     table advanced since staging (else clean up and throw — the
  *     caller re-stages and retries, the same loop
  *     `ManifestOps.mergeInto` runs for single-table conflicts), drop
  *     a marker file in each table dir naming the staged pointer and
  *     the journal, then atomically create ONE shared JOURNAL file —
  *     **the commit point** — then swap each pointer and remove the
  *     markers.
  *
  * Crash safety, by crash site:
  *  - before the journal exists (including mid-staging): nothing is
  *    visible anywhere; the next committer on any member table aborts
  *    the leftovers at lock-acquire
  *    ([[ManifestSink.resolvePendingTxn]]), and orphaned staged data
  *    files fall to compaction/vacuum GC.
  *  - after the journal exists: the transaction IS committed — every
  *    reader of a member table serves the staged pointer the moment
  *    the journal lands ([[ManifestSink.pendingTxnText]], consulted by
  *    `manifestText`), so no torn cross-table state is ever
  *    observable, even though N physical renames cannot be atomic;
  *    the physical swaps complete lazily at the next lock acquire.
  *
  * At 100 TB the commit point is one small journal write regardless of
  * table sizes or count — on an object store it becomes a catalog CAS
  * / if-match PUT over the same journal object, exactly the
  * "documented next step" `Ingest.commitSnapshot` names. */
object GraftTxn {

  /** The write-option key that stages a DataFrame write into a txn. */
  val StageOptionKey = "txnStage"

  /** Fresh transaction id (filename-safe). */
  def newId(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(16)

  private def journalPath(journalDir: String, id: String): Path =
    Paths.get(journalDir).resolve(s"txn-$id.json")

  /** The staged (invisible) pointer a `txnStage=id` write published
    * under `dir` — exposed for tests and operational inspection. */
  def stagedPointer(dir: String, id: String): Path =
    Paths.get(dir).resolve(ManifestSink.txnStagedPointerName(id))

  /** Make every staged member table's write visible at ONE commit
    * point. Returns (tableDir -> committed generation) per member.
    * Throws if any member table advanced since staging (all staged
    * pointers are discarded — re-stage and retry) or if a member was
    * never staged (staged pointers are KEPT — stage the missing member
    * and call again). */
  def commitAll(journalDir: String, tableDirs: Seq[String],
      id: String): Seq[(String, Long)] = {
    require(tableDirs.nonEmpty, "commitAll of zero tables")
    val dirs = tableDirs.map(d => Paths.get(d).toAbsolutePath.normalize)
      .distinct.sortBy(_.toString) // canonical lock order: no deadlock
    sweepJournals(journalDir)
    var out = Seq.empty[(String, Long)]
    def locked(rem: List[Path])(body: => Unit): Unit = rem match {
      case Nil => body
      case h :: t => ManifestSink.withPublishLock(h) { locked(t)(body) }
    }
    locked(dirs.toList) {
      // VALIDATE every member before touching any marker: the staged
      // pointer claims generation g; the table must still sit at g-1
      // (acquiring the locks above already physically resolved any
      // OLDER pending transaction, so this read is authoritative).
      val staged = dirs.map { d =>
        val sp = d.resolve(ManifestSink.txnStagedPointerName(id))
        require(Files.exists(sp),
          s"txn $id: no staged write under $d — stage it with " +
            s""".option("$StageOptionKey", "$id") first""")
        val txt = new String(Files.readAllBytes(sp), StandardCharsets.UTF_8)
        val gen = "\"generation\":(\\d+)".r.findFirstMatchIn(txt)
          .map(_.group(1).toLong).getOrElse(throw new IllegalStateException(
            s"txn $id: unparseable staged pointer $sp"))
        (d, sp, gen)
      }
      val conflicted = staged.collect {
        case (d, _, gen)
            if ManifestSink.committedGeneration(d.toString) != gen - 1 => d
      }
      if (conflicted.nonEmpty) {
        staged.foreach { case (_, sp, _) => Files.deleteIfExists(sp) }
        throw new IllegalStateException(
          s"txn $id conflicts: ${conflicted.mkString(", ")} advanced " +
            "since staging — every staged pointer was discarded; " +
            "re-stage the transaction against the current generations " +
            "and retry (orphaned staged data files fall to " +
            "compaction/vacuum GC)")
      }
      val journal = journalPath(journalDir, id)
      // MARKERS before the journal: a marker whose journal does not
      // exist reads as "not committed" everywhere (readers serve the
      // old pointer; the next locked committer aborts the leftovers).
      staged.foreach { case (d, sp, _) =>
        val json = "{\"txn\":\"" + NdjsonCodec.escape(id) +
          "\",\"staged\":\"" +
          NdjsonCodec.escape(sp.getFileName.toString) +
          "\",\"journal\":\"" +
          NdjsonCodec.escape(journal.toAbsolutePath.toString) + "\"}"
        Publish.replace(d.resolve(ManifestSink.TxnMarkerName))(
          Files.write(_, json.getBytes(StandardCharsets.UTF_8)))
      }
      // THE COMMIT POINT: one atomic create of the shared journal.
      // Before it lands the transaction is invisible; after it, every
      // member table's reads serve the staged state.
      Files.createDirectories(journal.getParent)
      if (!Publish.create(journal)(Files.write(_, dirs
          .map(d => "\"" + NdjsonCodec.escape(d.toString) + "\"")
          .mkString("[", ",", "]").getBytes(StandardCharsets.UTF_8)))) {
        // An earlier commit of this id is still pending on some other
        // table: our markers would roll forward under ITS journal.
        dirs.foreach(d => Files.deleteIfExists(d.resolve(ManifestSink.TxnMarkerName)))
        throw new IllegalStateException(
          s"txn $id: journal $journal already exists — retry with a fresh id")
      }
      // PHYSICAL SWAPS (readers already see the new state through the
      // marker+journal roll-forward): the same roll-forward the next
      // lock acquire would run after a crash here, so that recovery
      // path runs on every commit.
      dirs.foreach(ManifestSink.resolvePendingTxn)
      Files.deleteIfExists(journal)
      out = staged.map { case (d, _, gen) => d.toString -> gen }
    }
    out
  }

  /** Discard a transaction's staged pointers without committing.
    * Staged data files become orphans (compaction/vacuum GC). */
  def abort(tableDirs: Seq[String], id: String): Unit =
    tableDirs.foreach { d =>
      Files.deleteIfExists(stagedPointer(d, id))
    }

  /** GC journals whose every member marker is gone — the only way a
    * journal outlives its transaction is a crash mid-swap, after which
    * each member table resolved lazily and nothing will ever read the
    * journal again. Runs lock-free: a marker-free journal is dead by
    * construction. */
  private def sweepJournals(journalDir: String): Unit = {
    val jd = Paths.get(journalDir)
    if (!Files.isDirectory(jd)) return
    val ls = Files.list(jd)
    try {
      val it = ls.iterator()
      val journals = Seq.newBuilder[Path]
      while (it.hasNext) {
        val j = it.next()
        if (j.getFileName.toString.matches("txn-[a-f0-9]+\\.json"))
          journals += j
      }
      journals.result().foreach { j =>
        val dead =
          try {
            val txt = new String(Files.readAllBytes(j),
              StandardCharsets.UTF_8)
            GraftCatalog.parseStringArray(txt).forall { d =>
              val marker = Paths.get(d, ManifestSink.TxnMarkerName)
              !Files.exists(marker) || {
                // A marker may belong to a NEWER txn of the same table.
                val m = NdjsonCodec.parseLine(new String(
                  Files.readAllBytes(marker), StandardCharsets.UTF_8))
                !m.get("journal").exists {
                  case NdjsonCodec.JsonStr(p) => p == j.toAbsolutePath.toString
                  case _ => false
                }
              }
            }
          } catch { case _: java.io.IOException => false }
        if (dead) Files.deleteIfExists(j)
      }
    } finally ls.close()
  }
}
