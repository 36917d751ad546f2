package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.ThreadLocalRandom

/** The one place that decides how a file becomes visible. Every file
  * the table format commits (manifest pointers and their generation
  * copies, `_table.json`, view and namespace markers, deletion-vector
  * and bloom sidecars, tags, the identity high-water mark, txn markers
  * and journals, compaction outputs) is written whole under a
  * temporary sibling and then renamed into place, so a reader sees the
  * old file or the new one, never part of either. A crash leaves at
  * most a dot-prefixed `.<name>.<hex>.tmp` sibling that nothing reads.
  *
  * The temporary sibling is reserved with `CREATE_NEW` under a fresh
  * random name, so two writers never share one, and it gets the
  * permissions of any other file the process writes
  * (`Files.createTempFile` would make every published file owner-only). */
object Publish {

  /** Writes `target` through `write`, which is handed the reserved
    * temporary sibling, then atomically replaces whatever `target`
    * held. If anything throws, `target` keeps its old bytes and the
    * temporary sibling is deleted. */
  def replace(target: Path)(write: Path => Unit): Unit = {
    val tmp = reserve(target)
    try { write(tmp); move(tmp, target) }
    catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
  }

  /** [[replace]] that never replaces: returns false, and leaves the
    * existing file alone, when `target` already exists. Of writers
    * racing on one target exactly one gets true. */
  def create(target: Path)(write: Path => Unit): Boolean = {
    val tmp = reserve(target)
    try {
      write(tmp)
      // A hard link fails with EEXIST where a rename would silently
      // replace: the existence check and the publish are one step.
      try { Files.createLink(target, tmp); true }
      catch { case _: FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(tmp)
  }

  /** Atomic rename of an already-written staged file over `to`. */
  def move(from: Path, to: Path): Unit =
    Files.move(from, to, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)

  /** Replaces directory `target` with the fully written directory
    * `staged`. The committed copy moves aside to `<target>.old` and is
    * deleted only after `staged` has taken its place; if that move
    * fails, `.old` moves back and the failure is rethrown. A missing
    * `target` just receives `staged`. */
  def swapDir(staged: Path, target: Path): Unit = {
    val old = target.resolveSibling(s"${target.getFileName}.old")
    org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
    val committed = Files.exists(target)
    if (committed) Files.move(target, old)
    try Files.move(staged, target)
    catch { case e: Throwable =>
      if (committed)
        try Files.move(old, target)
        catch { case r: Throwable => e.addSuppressed(r) }
      throw e
    }
    org.apache.commons.io.FileUtils.deleteDirectory(old.toFile)
  }

  private def reserve(target: Path): Path = {
    val tmp = target.resolveSibling(
      f".${target.getFileName}.${ThreadLocalRandom.current().nextLong()}%016x.tmp")
    Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW).close()
    tmp
  }
}
