package graft.sources

import org.apache.spark.sql.types.{LongType, StructType}

/** GENERATED ALWAYS AS IDENTITY for manifest tables, with values
  * allocated at COMMIT time under the publish lock.
  *
  * Why commit-time: analysis-time range minting (the obvious design)
  * breaks under the queued concurrent appends the commit protocol
  * deliberately allows — two appenders that planned against the same
  * high-water mark would mint colliding ranges, and the append path's
  * whole point is that queued writers do NOT re-plan. Instead:
  *
  *  - the WRITER stores a local placeholder per minted row —
  *    `-(localOrdinal + 1)`, strictly negative, unique within its
  *    file — and reports how many rows it minted;
  *  - the COMMIT, already serialized under the publish lock, reads the
  *    table's high-water mark (`_idhwm`, a row counter), assigns each
  *    minted file an absolute `idbase = start + hwm * step`, advances
  *    the mark, and persists it BEFORE the manifest swap (a crash
  *    between the two wastes a range — gaps are identity semantics);
  *  - the READER resolves a negative stored value v to
  *    `idbase + (-v - 1) * step`; non-negative stored values are
  *    already absolute (rows carried through copy-on-write rewrites,
  *    compaction materialization) and serve as-is.
  *
  * Requiring `start >= 0` and `step > 0` is what makes the negative
  * placeholder unambiguous. Restrictions enforced at DDL/write time,
  * all because the STORED value is a placeholder until commit: an
  * identity column cannot be a partition/bucket/sort/bloom column, an
  * equality-delete key, or referenced by a CHECK constraint or
  * generation expression. Files with unmaterialized placeholders
  * (idbase set) are excluded from concat compaction; a copy-on-write
  * rewrite materializes absolute values and lifts every restriction's
  * reason. */
private[sources] object GraftIdentity {

  /** One identity column per table (ANSI allows several; one is the
    * warehouse-common case and keeps the manifest entry flat). */
  final case class Spec(col: String, start: Long, step: Long)

  /** The identity spec persisted in the schema's field metadata —
    * Spark's own keys (`IdentityColumn`), so DESCRIBE and the DSv2
    * column API render it natively. */
  def of(schema: StructType): Option[Spec] = {
    val ic = org.apache.spark.sql.catalyst.util.IdentityColumn
    val specs = schema.fields.flatMap(f =>
      ic.getIdentityInfo(f).map(i => (f, i))).toSeq
    require(specs.size <= 1,
      "at most one IDENTITY column per manifest table (got " +
        specs.map(_._1.name).mkString(", ") + ")")
    specs.headOption.map { case (f, i) =>
      require(f.dataType == LongType,
        s"IDENTITY column '${f.name}' must be BIGINT (got ${f.dataType})")
      require(!i.isAllowExplicitInsert,
        s"IDENTITY column '${f.name}': GENERATED BY DEFAULT is not " +
          "supported — explicit values cannot be reconciled with " +
          "commit-time allocation; use GENERATED ALWAYS AS IDENTITY")
      require(i.getStart >= 0 && i.getStep > 0,
        s"IDENTITY column '${f.name}' needs start >= 0 and step > 0 " +
          "(negative stored values are the writer's un-allocated " +
          s"placeholders); got start=${i.getStart} step=${i.getStep}")
      Spec(f.name, i.getStart, i.getStep)
    }
  }

  /** Writer-side placeholder for the file's `local`-th minted row. */
  def encode(local: Long): Long = -(local + 1L)

  /** Reader-side resolution: placeholders resolve through the file's
    * committed base; non-negative values are already absolute. */
  def resolve(stored: Long, idbase: Long, step: Long): Long =
    if (stored < 0) idbase + (-stored - 1L) * step else stored

  /** Absolute id range of a file that minted `m` rows at `idbase`
    * with `step` — the commit's exact stats for pruning. */
  def mintedRange(idbase: Long, m: Long, step: Long): (Long, Long) =
    (idbase, idbase + (m - 1L) * step)

  // ----- High-water mark: a ROW counter (not an id), persisted as its
  // own tiny file so the manifest renderers stay untouched. Read and
  // advanced only under the publish lock; written via temp + atomic
  // rename BEFORE the manifest swap, so a crash between the two leaves
  // a gap, never a collision. Survives TRUNCATE (identity never
  // rewinds — a restored/time-travel reader of old data must never
  // collide with new rows).

  private def hwmPath(dir: java.nio.file.Path): java.nio.file.Path =
    dir.resolve("_idhwm")

  def readHwm(dir: java.nio.file.Path): Long = {
    val p = hwmPath(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toLong
  }

  def writeHwm(dir: java.nio.file.Path, hwm: Long): Unit =
    Publish.replace(hwmPath(dir))(
      java.nio.file.Files.write(_, hwm.toString.getBytes("UTF-8")))

  /** Commit-side allocation, caller holding the publish lock: assign
    * each minted winner (in name order — deterministic) its base,
    * advance the mark, fix the identity column's stats to the exact
    * absolute range, and persist the mark. Returns the winners with
    * bases and stats applied. No-op (same list) when nothing minted. */
  def allocate(dir: java.nio.file.Path, spec: Spec,
      winners: Seq[StagedFile]): Seq[StagedFile] = {
    if (!winners.exists(_.minted > 0)) return winners
    var hwm = readHwm(dir)
    // Bases assigned in NAME order (deterministic across retries);
    // the returned list keeps the caller's order.
    val baseByName = winners.filter(_.minted > 0).sortBy(_.name).map { f =>
      val base = spec.start + hwm * spec.step
      hwm += f.minted
      f.name -> base
    }.toMap
    val out = winners.map { f =>
      baseByName.get(f.name) match {
        case None => f
        case Some(base) =>
          val (lo, hi) = mintedRange(base, f.minted, spec.step)
          // Merge the minted range with any carried-row bounds the
          // writer recorded (non-negative stored values only).
          val others = f.stats.filterNot(_.col == spec.col)
          val prior = f.stats.find(_.col == spec.col)
          val mn = prior.map(s => math.min(s.min.toLong, lo)).getOrElse(lo)
          val mx = prior.map(s => math.max(s.max.toLong, hi)).getOrElse(hi)
          f.copy(idbase = Some(base),
            stats = others :+ ColStat(spec.col, mn.toString, mx.toString))
      }
    }
    writeHwm(dir, hwm)
    out
  }
}
