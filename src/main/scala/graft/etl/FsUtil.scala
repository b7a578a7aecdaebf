package graft.etl

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._

/** Shared filesystem helpers for the table formats. */
object FsUtil {

  /** Recursive delete, no-op when absent; the walk stream is closed
    * and deletion tolerates entries a concurrent cleaner already
    * removed. The single implementation behind every table format's
    * debris rollback / clean path.
    */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally w.close()
    }

  /** Set `p`'s modification time to now. */
  def touch(p: Path): Unit = {
    Files.setLastModifiedTime(p, FileTime.fromMillis(System.currentTimeMillis()))
    ()
  }

  /** The dirs directly under `dir` named `prefix…` that no live OCC
    * writer can still own: their newest entry — the dir itself and
    * everything under it, a running write's `_temporary` files
    * included — is older than [[FsLock.QueueWaitMs]]. A writer's files
    * stay fresh while its staging write runs, it touches the dir when
    * the write ends, and it then queues for the table lock at most
    * `QueueWaitMs` before its in-lock rename, where it also checks the
    * dir is still there.
    */
  def staleDirs(dir: Path, prefix: String): Seq[Path] = {
    val cutoffMs = System.currentTimeMillis() - FsLock.QueueWaitMs
    // an entry that vanishes mid-walk belongs to a write in progress
    def newestMs(d: Path): Long =
      try {
        val w = Files.walk(d)
        try w.iterator().asScala.map(Files.getLastModifiedTime(_).toMillis).max
        finally w.close()
      } catch {
        case _: java.nio.file.NoSuchFileException | _: java.io.UncheckedIOException =>
          Long.MaxValue
      }
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(d =>
        d.getFileName.toString.startsWith(prefix) && Files.isDirectory(d) &&
          newestMs(d) < cutoffMs).toSeq
      finally s.close()
    }
  }
}
