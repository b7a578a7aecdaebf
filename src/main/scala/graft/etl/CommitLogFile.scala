package graft.etl

import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Archival for the CoW layouts' single-file `_commits` logs — the
  * [[Timeline.archiveCommits]] move applied to an append-only line log: fold
  * every line but the newest `keepLatest` into `_commits_archive` (an
  * append-only batch file read only by history/old-cursor paths) and
  * rewrite the active log to the kept suffix. Bounds the per-commit
  * and per-pull read of the ACTIVE log however many commits the table
  * has seen; history is preserved, not dropped — an incremental cursor
  * behind the boundary resolves through the archive, never a silent
  * under-delivery (the loud guards stay where they were).
  *
  * Crash discipline: the archive append lands BEFORE the active-log
  * swing, so a crash in between leaves lines present in BOTH files —
  * readers dedup by commit number (the first token of every line on
  * every layout) — never a lost commit. Both layouts' writers allocate
  * commit numbers from the ACTIVE log's tail, which archival keeps
  * (`keepLatest >= 1`), so numbering is unaffected.
  */
object CommitLogFile {

  private def activePath(tablePath: String) = Paths.get(tablePath, "_commits")
  private def archivePath(tablePath: String) =
    Paths.get(tablePath, "_commits_archive")

  /** Fold all but the newest `keepLatest` active lines into the
    * archive. Caller holds the table lock (the active-log rewrite
    * races concurrent writers' appends otherwise). Returns the commit
    * numbers archived.
    */
  def archive(tablePath: String, keepLatest: Int): Seq[Long] = {
    require(keepLatest >= 1, "must keep at least the latest commit")
    val p = activePath(tablePath)
    if (!Files.exists(p)) return Seq.empty
    val lines = Files.readAllLines(p).asScala.filter(_.nonEmpty).toSeq
    val toArchive = lines.dropRight(keepLatest)
    if (toArchive.isEmpty) return Seq.empty
    Files.writeString(archivePath(tablePath),
      toArchive.mkString("", "\n", "\n"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    val tmp = Paths.get(tablePath, s"_commits.tmp${System.nanoTime()}")
    Files.writeString(tmp,
      lines.takeRight(keepLatest).mkString("", "\n", "\n"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    toArchive.flatMap(_.split(' ').headOption)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
  }

  /** The archived raw lines (empty when never archived). */
  def archivedLines(tablePath: String): Seq[String] = {
    val p = archivePath(tablePath)
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p).asScala.filter(_.nonEmpty).toSeq
  }

  /** (commit, second token, wall clock) per logged commit, archived
    * lines included. The bucket, bloom and partitioned writers end a
    * line with a `ts=` token (None on lines written before timestamps
    * were recorded); bloom and partitioned lines name the commit's kind
    * second.
    */
  def entries(tablePath: String): Seq[(Long, String, Option[Long])] =
    fullLines(tablePath).flatMap(_.split(' ') match {
      case Array(no, second, rest @ _*) =>
        Some((no.toLong, second, rest.collectFirst {
          case t if t.length > 3 && t.startsWith("ts=") &&
              t.drop(3).forall(_.isDigit) => t.drop(3).toLong
        }))
      case _ => None
    })

  /** `TIMESTAMP AS OF` over a `ts=`-stamped log: the newest commit at
    * or before `tsMs` ([[newestAtOrBefore]]).
    */
  def resolveAsOf(tablePath: String, tsMs: Long): Long = {
    val logged = entries(tablePath)
    require(logged.nonEmpty, s"no commits at $tablePath")
    newestAtOrBefore(tablePath, tsMs,
      logged.collect { case (no, _, Some(t)) => (no, t) },
      logged.count(_._3.isEmpty))
  }

  /** The one `TIMESTAMP AS OF` contract every layout resolves by (the
    * timeline's instants and the MOR seq-time log parse their own
    * logs): the newest of the `timed` (version, wall clock) pairs at or
    * before `tsMs`. Loud when none is, with a hint when `untimed`
    * commits predate timestamps — resolving those by wall clock would
    * be a guess.
    */
  def newestAtOrBefore(tablePath: String, tsMs: Long,
      timed: Seq[(Long, Long)], untimed: Int): Long = {
    val candidates = timed.collect { case (no, t) if t <= tsMs => no }
    if (candidates.isEmpty)
      throw new IllegalArgumentException(
        s"no commit at or before $tsMs at $tablePath" +
          (if (untimed > 0) s" ($untimed commits predate timestamps — " +
            "resolve those with VERSION AS OF)" else ""))
    candidates.max
  }

  /** archived ++ active, deduped by commit number (first copy wins —
    * a crash between the archive append and the active swing leaves
    * identical duplicates). The cold-path full history.
    */
  def fullLines(tablePath: String): Seq[String] = {
    val p = activePath(tablePath)
    val active =
      if (!Files.exists(p)) Seq.empty
      else Files.readAllLines(p).asScala.filter(_.nonEmpty).toSeq
    val seen = scala.collection.mutable.Set[String]()
    (archivedLines(tablePath) ++ active).filter { l =>
      val no = l.split(' ').headOption.getOrElse("")
      no.nonEmpty && no.forall(_.isDigit) && seen.add(no)
    }
  }
}
