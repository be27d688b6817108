package graft.core

import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

/** Small filesystem helpers shared by the rewrite-and-publish paths
  * ([[VectorTable.purge]], [[graft.operators.IndexCompaction]]) and the
  * memo builds ([[Memo]]).
  */
object Fs {

  /** Replace `target`'s content with `text` atomically: a fresh dot-named
    * sibling is written, then renamed over `target`, so readers see the
    * old or the new content, never a partial file.
    */
  def replaceAtomically(target: Path, text: String): Unit = {
    val tmp = target.resolveSibling(s".${target.getFileName}-${java.util.UUID.randomUUID()}")
    Files.write(tmp, text.getBytes("UTF-8"), StandardOpenOption.CREATE_NEW)
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Create `target` holding `bytes`, failing with
    * `FileAlreadyExistsException` if it exists, such that no reader sees
    * it partial: the bytes go to a fresh hidden sibling first (a `.tmp-`
    * name, which no versioned-file pattern matches), which is then
    * hard-linked as `target` — a create-if-absent of complete content —
    * and removed. Where links are refused, [[linkOrCopy]]'s byte copy is
    * the fallback (still create-if-absent, no longer atomic).
    */
  def createComplete(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW)
    try linkOrCopy(tmp, target)
    finally { Files.deleteIfExists(tmp); () }
  }

  /** The entries of `dir`, listed with the directory handle closed
    * before returning (an unclosed `Files.list` stream leaks a file
    * descriptor per call).
    */
  def list(dir: Path): Vector[Path] = {
    val stream = Files.list(dir)
    try stream.toArray(n => new Array[Path](n)).toVector
    finally stream.close()
  }

  /** Delete `root` and everything under it; a missing `root` is a no-op.
    * The walk's directory handles are closed before returning. Failures
    * propagate: best-effort callers catch `NonFatal` themselves.
    */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
    }

  /** Hard-link `src` as `dst`, falling back to a byte copy when the
    * filesystem refuses the link. Links fail in more ways than
    * `UnsupportedOperationException` (round-16 ADVICE): `Files.createLink`
    * surfaces EMLINK / EPERM / cross-device / network-mount failures as
    * `FileSystemException` subtypes, and a takedown or purge must degrade
    * to copying, not abort. `FileAlreadyExistsException` is NOT caught —
    * an existing destination means the caller's fresh directory wasn't
    * fresh, a real bug the copy fallback would silently paper over.
    */
  def linkOrCopy(src: Path, dst: Path): Unit =
    try Files.createLink(dst, src)
    catch {
      case e: java.nio.file.FileAlreadyExistsException => throw e
      case _: UnsupportedOperationException | _: java.nio.file.FileSystemException |
          _: SecurityException =>
        Files.copy(src, dst)
    }
}
