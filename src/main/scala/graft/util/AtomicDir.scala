package graft.util

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Atomic directory replacement for local/NFS filesystems.
  *
  * Unlike `java.io.File.renameTo` (which signals failure via a boolean
  * that is easy to ignore), `Files.move(..., ATOMIC_MOVE)` throws on
  * failure; `replace` additionally restores the previous directory if
  * the forward move fails, so the documented old-or-new reader
  * guarantee holds even on error paths.
  *
  * On object stores / HDFS a directory rename is not atomic — there
  * the same call sites map to a transactional metadata commit
  * (Delta/Iceberg MERGE or replace-partitions), which is why all
  * swap-based sinks in graft operate at *partition* granularity: the
  * unit we swap here is exactly the unit a table format would commit.
  */
object AtomicDir {

  /** Replace `dst` with `src` (both directories). Readers observe the
    * old directory or the new one, never a partial mix. Throws on
    * failure, restoring the old directory first when possible.
    */
  def replace(src: Path, dst: Path): Unit = {
    // Dot-prefixed so that when dst is a partition dir inside a table
    // root (StateTable.merge swaps bucket=X), the transient parked
    // copy is invisible to Spark partition discovery (InMemoryFileIndex
    // skips '.'/'_'-prefixed paths) — a concurrent reader never sees
    // the partition twice.
    val old = dst.resolveSibling("." + dst.getFileName.toString + ".old")
    deleteRec(old)
    val hadOld = Files.exists(dst)
    if (hadOld) Files.move(dst, old, StandardCopyOption.ATOMIC_MOVE)
    try Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: Throwable =>
        if (hadOld) Files.move(old, dst, StandardCopyOption.ATOMIC_MOVE)
        throw e
    }
    deleteRec(old)
  }

  def replace(src: String, dst: String): Unit = replace(Paths.get(src), Paths.get(dst))

  /** Remove a directory atomically from readers' perspective: rename
    * it aside first (atomic disappearance), then delete the renamed
    * copy.
    */
  def remove(dir: Path): Unit = {
    if (Files.exists(dir)) {
      val old = dir.resolveSibling("." + dir.getFileName.toString + ".old")
      deleteRec(old)
      Files.move(dir, old, StandardCopyOption.ATOMIC_MOVE)
      deleteRec(old)
    }
  }

  def deleteRec(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).forEach(c => deleteRec(c))
    Files.deleteIfExists(p)
    ()
  }

  def deleteRec(p: String): Unit = deleteRec(Paths.get(p))
}
