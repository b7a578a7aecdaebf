package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Versioned copy-on-write table with a commit timeline — the part of
  * Hudi the plain `HudiLike.commit` swap doesn't cover: snapshot
  * isolation across commits, time-travel reads, and retention cleaning
  * (reference: Hudi's commit timeline; cleaning config at
  * pipeline_architecture.py:58-59 `hoodie.clean.automatic=true`,
  * `hoodie.cleaner.commits.retained`).
  *
  * Layout: `table/v=N/` snapshot directories plus a `_latest` pointer
  * file whose write is an atomic rename — readers resolve the pointer
  * then read an immutable directory, so a reader never observes a
  * half-written snapshot and writers never mutate a directory a reader
  * may hold. Cleaning deletes only versions older than the retention
  * window, mirroring Hudi's retained-commits model (a long-running
  * reader of a cleaned version fails exactly as it does in Hudi).
  */
object Timeline extends TableLayout {

  val kind = "timeline"

  private def pointer(tablePath: String): Path = Paths.get(tablePath, "_latest")
  private def timelineDir(tablePath: String): Path = Paths.get(tablePath, "_timeline")

  /** One commit-timeline instant — the metadata Hudi keeps per commit
    * (`<ts>.commit` files): what happened (`action`), when in commit
    * order (`version`), and how many rows the snapshot carries.
    * `archived` marks instants folded into an archived log file.
    */
  /** `ts_ms` is the commit's wall-clock instant (Hudi's instant time,
    * the coordinate `TIMESTAMP AS OF` resolves against); -1 on
    * instants written before timestamps were recorded — those resolve
    * by VERSION only.
    */
  final case class Instant(
      version: Long, action: String, n_rows: Long, archived: Boolean,
      ts_ms: Long = -1L)

  /** Current committed version, or None for an uninitialized table. */
  def latestVersion(tablePath: String): Option[Long] = {
    val p = pointer(tablePath)
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  /** All versions present on disk (ascending). */
  def versions(tablePath: String): Seq[Long] = {
    val dir = Paths.get(tablePath)
    if (!Files.exists(dir)) Seq.empty
    else Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v=") => s.drop(2).toLong }
      .toSeq.sorted
  }

  private def swingPointer(tablePath: String, next: Long): Unit = {
    val tmp = Paths.get(tablePath, s"_latest.tmp${System.nanoTime()}")
    Files.writeString(tmp, next.toString,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, pointer(tablePath), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Commit `df` as the next version: write the snapshot dir, then
    * atomically swing the `_latest` pointer and record the instant on
    * the active timeline.
    */
  /** `atMs` pins the instant's wall-clock time — the injectable clock
    * for deterministic `TIMESTAMP AS OF` tests; production callers
    * leave it None (now).
    */
  /** `precountedRows` skips [[recordInstant]]'s footer-count job when
    * the caller already knows the snapshot's row count (e.g. it rode
    * the merge checkpoint as an observed metric — guide §2.4).
    */
  def commit(df: DataFrame, tablePath: String, action: String = "commit",
      atMs: Option[Long] = None, precountedRows: Option[Long] = None): Long = {
    val next = latestVersion(tablePath).getOrElse(-1L) + 1
    val snapDir = Paths.get(tablePath, s"v=$next")
    UnitSchema.write(df, snapDir.toString, mode = "overwrite")
    // instant BEFORE the pointer swing: a crash in between leaves an
    // orphan instant for an uncommitted version (harmless — the retry
    // of the same version REPLACEs it), never a committed-and-readable
    // version permanently missing from history()/archive()
    recordInstant(df.sparkSession, tablePath, next, action,
      atMs.getOrElse(System.currentTimeMillis()), precountedRows)
    swingPointer(tablePath, next)
    // hive-sync analog: tracked latest-version views re-point to v=next
    Catalog.syncViews(df.sparkSession, tablePath)
    // bound covering indexes reconcile to the new head (see the index
    // section at the bottom of this file)
    maintainBound(df.sparkSession, tablePath)
    next
  }

  /** Write the instant metadata file for a version about to commit —
    * one small `<v>.commit` file on the ACTIVE timeline (Hudi's
    * `.hoodie/<ts>.commit`), published by atomic rename BEFORE the
    * pointer swing so a committed version can never be missing from
    * history. The row count is read back from the snapshot's parquet
    * footers (a metadata-only count job — no data scan).
    */
  private def recordInstant(spark: SparkSession, tablePath: String,
      version: Long, action: String, tsMs: Long,
      precountedRows: Option[Long] = None): Unit = {
    val dir = Files.createDirectories(timelineDir(tablePath))
    // the OCC route passes the count it took from the staged files
    // before its lock (the footer sweep must not ride the lock hold)
    val n = precountedRows.getOrElse(
      readVersion(spark, tablePath, version).count())
    val tmp = dir.resolve(s".$version.tmp${System.nanoTime()}")
    Files.writeString(tmp, s"$version $action $n $tsMs\n",
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, dir.resolve(s"$version.commit"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def parseInstant(line: String, archived: Boolean): Instant =
    line.trim.split(' ') match {
      // 3-field lines predate instant timestamps — readable forever
      case Array(v, a, n) => Instant(v.toLong, a, n.toLong, archived)
      case Array(v, a, n, ts) =>
        Instant(v.toLong, a, n.toLong, archived, ts.toLong)
    }

  /** The version a `TIMESTAMP AS OF` read resolves to: the newest
    * commit whose instant time is <= `tsMs`. Loud when nothing was
    * committed that early, and when the candidate commits predate
    * instant timestamps (resolving those by wall-clock would be a
    * guess — use VERSION AS OF).
    */
  def resolveAsOf(tablePath: String, tsMs: Long): Long = {
    val all = instants(tablePath)
    require(all.nonEmpty, s"no commits at $tablePath")
    CommitLogFile.newestAtOrBefore(tablePath, tsMs,
      all.collect { case i if i.ts_ms >= 0 => (i.version, i.ts_ms) },
      all.count(_.ts_ms < 0))
  }

  /** Archive the active timeline down to its newest `keepLatest`
    * instants — Hudi's timeline archival: every older `<v>.commit`
    * file is folded into ONE `archived-<lo>-<hi>.log` batch file and
    * removed from the active dir, so the active timeline a reader must
    * list stays bounded however many commits the table has seen (on an
    * object store, the unbounded file listing is the thing this
    * exists to prevent). History is preserved, not dropped —
    * [[history]] reads both. Archival is metadata-only: snapshot data
    * dirs are untouched (retention of DATA is [[cleanVersions]]'s job,
    * exactly as archival and cleaning are independent services in
    * Hudi).
    * Returns the versions archived.
    */
  override def archiveCommits(tablePath: String, keepLatest: Int): Seq[Long] =
    // table lock shared with [[purgeKey]] (which rewrites the instant
    // lines archive batches up) and [[cleanVersions]] — same
    // serialization discipline as every destructive metadata service
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      archiveLocked(tablePath, keepLatest)
    }

  private def archiveLocked(tablePath: String, keepLatest: Int): Seq[Long] = {
    require(keepLatest >= 1, "must keep at least the latest instant")
    val dir = timelineDir(tablePath)
    if (!Files.exists(dir)) return Seq.empty
    val active = {
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".commit"))
        .map(p => (p.getFileName.toString.stripSuffix(".commit").toLong, p))
        .toSeq.sortBy(_._1)
      finally s.close()
    }
    val toArchive = active.dropRight(keepLatest)
    if (toArchive.isEmpty) return Seq.empty
    val lines = toArchive.map { case (_, p) => Files.readString(p).trim }
    // write the batch file first, then retire the instant files: a
    // crash in between leaves a version present in both, which
    // [[history]] dedups (archived copy wins) — never a lost instant
    val tmp = dir.resolve(s".archive.tmp${System.nanoTime()}")
    Files.writeString(tmp, lines.mkString("", "\n", "\n"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp,
      dir.resolve(s"archived-${toArchive.head._1}-${toArchive.last._1}.log"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    toArchive.foreach { case (_, p) => Files.delete(p) }
    toArchive.map(_._1)
  }

  /** The full commit history — archived batch files plus the active
    * instants, deduped by version (archived copy wins, covering a
    * crash between [[archiveCommits]]'s batch write and file
    * retirement),
    * ascending. Timeline metadata is bounded by commit count, not
    * data size, so materializing it driver-side is the right shape —
    * this is a catalog read, not a table scan.
    */
  def history(spark: SparkSession, tablePath: String): DataFrame =
    spark.createDataFrame(instants(tablePath))

  /** A timeline's `show_commits` carries its instants whole. */
  def showCommits(spark: SparkSession, tablePath: String): DataFrame =
    history(spark, tablePath)

  /** The deduped, ascending instant list behind [[history]] —
    * driver-side (timeline metadata is bounded by commit count, not
    * data size). Consumers that must see commits REGARDLESS of
    * archival state resolve through this, never by listing `.commit`
    * files.
    */
  def instants(tablePath: String): Seq[Instant] = {
    val dir = timelineDir(tablePath)
    val all: Seq[Instant] =
      if (!Files.exists(dir)) Seq.empty
      else {
        val s = Files.list(dir)
        val files =
          try s.iterator().asScala.map(_.getFileName.toString).toSeq
          finally s.close()
        val archived = files.filter(f =>
          f.startsWith("archived-") && f.endsWith(".log")).sorted.flatMap { f =>
          Files.readAllLines(dir.resolve(f)).asScala
            .filter(_.nonEmpty).map(parseInstant(_, archived = true))
        }
        val active = files.filter(_.endsWith(".commit")).flatMap { f =>
          Seq(parseInstant(Files.readString(dir.resolve(f)), archived = false))
        }
        // dedup by version across ALL sources, not just archived-vs-
        // active: a crash between an archive batch write and its
        // instant-file deletions can leave a version in one archived
        // log AND (after a later, wider archive run) in a second one
        (archived ++ active).groupBy(_.version).values.map(_.head).toSeq
      }
    all.sortBy(_.version)
  }

  /** Read the latest snapshot. */
  def read(spark: SparkSession, tablePath: String): DataFrame =
    readVersion(spark, tablePath,
      latestVersion(tablePath).getOrElse(
        throw new IllegalStateException(s"no commits at $tablePath")))

  /** Time-travel read of a specific version. */
  def readVersion(spark: SparkSession, tablePath: String, version: Long): DataFrame =
    UnitSchema.read(spark, s"$tablePath/v=$version")

  /** Keyed upsert as a new commit (CoW: merge against latest, write a
    * fresh immutable snapshot).
    */
  def upsertInto(spark: SparkSession, tablePath: String, incoming: DataFrame,
      keys: Seq[String], precombine: String, tieBreak: Seq[String] = Nil,
      atMs: Option[Long] = None): Long = {
    // the instant's row count rides the merge checkpoint as an
    // observed metric — recordInstant's footer-count job is skipped
    // (guide §2.4)
    val (merged, mergedN) = Fuse.checkpointCounted(
      latestVersion(tablePath) match {
        case Some(v) =>
          HudiLike.upsert(readVersion(spark, tablePath, v), incoming,
            keys, precombine, tieBreak)
        case None =>
          HudiLike.precombineLatest(incoming, keys, precombine, tieBreak)
      })
    commit(merged, tablePath, atMs = atMs, precountedRows = Some(mergedN))
  }

  /** Right-to-be-forgotten on the VERSIONED layout: erase every row
    * whose key columns equal `keyValues` from EVERY retained version —
    * a HISTORY rewrite, the one sanctioned break of snapshot
    * immutability (a versioned lake that cannot purge PII from its
    * history cannot lawfully hold PII; Delta and Iceberg deployments
    * run the same rewrite-the-retained-snapshots procedure). Versions
    * the key never reached are detected by one predicate-pushdown
    * probe and stay byte-identical; each HIT version's survivors land
    * in a staging dir and swap in via two atomic renames — a crash
    * between them leaves the version dir ABSENT (readVersion fails
    * LOUDLY, never serves a half-purged snapshot as whole), and
    * re-running the purge completes the interrupted swap first. The
    * instant's recorded row count refreshes so `history()` stays
    * truthful. O(hit versions) rewrite — inherent to a history purge.
    * The whole sweep holds the table [[FsLock]], shared with
    * [[cleanVersions]]/[[archiveCommits]] and the commit swing: a
    * concurrent clean
    * deleting `v=N` dirs mid-swap would otherwise strand staging dirs
    * or fail the atomic moves — lock-enforced, not a comment contract
    * (purges are rare; blocking writers for the sweep is the right
    * trade for a destructive service, the discipline every comparable
    * verb here follows).
    */
  def purgeKey(spark: SparkSession, tablePath: String, keys: Seq[String],
      keyValues: Seq[Any]): Seq[Long] = FsLock.withTableLock(tablePath,
      FsLock.QueueWaitMs) {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    require(keys.nonEmpty && keys.length == keyValues.length,
      s"purge needs one value per key column (${keys.mkString(",")})")
    repairInterruptedPurge(tablePath)
    val pred = keys.zip(keyValues).map { case (k, x) =>
      if (x == null) col(k).isNull else col(k) === lit(x)
    }.reduce(_ && _)
    val rewritten = versions(tablePath).filter { v =>
      val df = readVersion(spark, tablePath, v)
      val hit = !df.filter(pred).isEmpty
      if (hit) {
        val staged = Paths.get(tablePath, s"_purge_v$v")
        FsUtil.deleteRecursively(staged) // stale staging from a crash
        // null-safe keep: a row whose key column is NULL against a
        // non-null purge value survives
        UnitSchema.write(df.filter(!coalesce(pred, lit(false))), staged.toString)
        val live = Paths.get(tablePath, s"v=$v")
        val trash = Paths.get(tablePath, s"_trash_v$v")
        FsUtil.deleteRecursively(trash)
        Files.move(live, trash, StandardCopyOption.ATOMIC_MOVE)
        Files.move(staged, live, StandardCopyOption.ATOMIC_MOVE)
        FsUtil.deleteRecursively(trash)
        refreshInstantCount(spark, tablePath, v)
      }
      hit
    }
    // an in-place rewrite moves no head, so bound indexes must be
    // force-reconciled — the purged mappings tombstone out here, never
    // lingering to be served
    if (rewritten.nonEmpty) invalidateBound(spark, tablePath)
    rewritten
  }

  /** Complete a purge swap a crash interrupted: a staged survivor dir
    * with its live `v=N` missing moves into place (the purge had
    * passed its point of no return); a staged dir WITH a live `v=N`
    * is pre-swap debris and is dropped.
    */
  private def repairInterruptedPurge(tablePath: String): Unit = {
    val dir = Paths.get(tablePath)
    if (!Files.exists(dir)) return
    val s = Files.list(dir)
    val entries = try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    entries.filter(_.startsWith("_purge_v")).foreach { n =>
      val v = n.stripPrefix("_purge_v")
      val live = dir.resolve(s"v=$v")
      if (!Files.exists(live))
        Files.move(dir.resolve(n), live, StandardCopyOption.ATOMIC_MOVE)
      else FsUtil.deleteRecursively(dir.resolve(n))
    }
    entries.filter(_.startsWith("_trash_v"))
      .foreach(n => FsUtil.deleteRecursively(dir.resolve(n)))
    ()
  }

  /** Re-count a purged version's instant (active `.commit` file or its
    * archived batch line) so `history()` keeps reporting true row
    * counts — metadata-only except the footer-count job.
    */
  private def refreshInstantCount(spark: SparkSession, tablePath: String,
      version: Long): Unit = {
    val n = readVersion(spark, tablePath, version).count()
    def rewriteLine(l: String): String = l.trim.split(' ') match {
      case Array(v, a, _) if v.toLong == version => s"$v $a $n"
      case Array(v, a, _, ts) if v.toLong == version => s"$v $a $n $ts"
      case _ => l.trim
    }
    val dir = timelineDir(tablePath)
    if (!Files.exists(dir)) return
    val active = dir.resolve(s"$version.commit")
    if (Files.exists(active)) {
      val tmp = dir.resolve(s".$version.tmp${System.nanoTime()}")
      Files.writeString(tmp, rewriteLine(Files.readString(active)) + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      Files.move(tmp, active, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    val s = Files.list(dir)
    val logs = try s.iterator().asScala.map(_.getFileName.toString)
      .filter(f => f.startsWith("archived-") && f.endsWith(".log")).toSeq
      finally s.close()
    logs.foreach { f =>
      val p = dir.resolve(f)
      val lines = Files.readAllLines(p).asScala.filter(_.nonEmpty).toSeq
      if (lines.exists(_.split(' ').headOption.exists(h =>
          h.forall(_.isDigit) && h.toLong == version))) {
        val tmp = dir.resolve(s".$f.tmp${System.nanoTime()}")
        Files.writeString(tmp,
          lines.map(rewriteLine).mkString("", "\n", "\n"),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      }
    }
    ()
  }

  /** Where an OCC attempt stages its snapshot before the in-lock
    * rename to `v=N`.
    */
  private val StagedPrefix = "_staged-"

  /** Retention cleaning: drop all but the newest `retain` versions
    * (never the latest). Returns the versions removed. Also reclaims
    * crashed OCC attempts' staged dirs, age-gated like
    * [[BloomTable.clean]]'s sweep ([[FsUtil.staleDirs]]).
    */
  def cleanVersions(tablePath: String, retain: Int): Seq[Long] =
    // table lock shared with [[purgeKey]]'s sweep and the commit
    // swing: deleting a version dir out from under a purge's atomic
    // renames (or vice versa) must be impossible by construction
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      require(retain >= 1, "must retain at least the latest version")
      val vs = versions(tablePath)
      // savepoint-pinned versions count as live — the pin IS the contract
      val pinned = pinnedVersions(tablePath)
      val drop = vs.dropRight(retain).filterNot(pinned)
      drop.foreach(v => FsUtil.deleteRecursively(Paths.get(tablePath, s"v=$v")))
      FsUtil.staleDirs(Paths.get(tablePath), StagedPrefix)
        .foreach(FsUtil.deleteRecursively)
      drop
    }

  /** Small-file compaction: rewrite the latest snapshot into
    * `numFiles` parquet files as a new commit. At scale, CoW upserts
    * over skewed batches accrete small files; compaction restores scan
    * efficiency without changing table contents.
    */
  def compact(spark: SparkSession, tablePath: String, numFiles: Int): Long =
    // "replacecommit" — Hudi's action name for commits that rewrite
    // files without changing contents (clustering/compaction).
    // Locked read-to-commit: a declared-OCC writer landing between our
    // read of the latest version and our commit would be silently
    // reverted by the rewritten snapshot (and the version number could
    // collide) — the same maintenance-holds-the-lock shape as
    // [[MorTable.cluster]].
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      commit(read(spark, tablePath).repartition(numFiles), tablePath,
        action = "replacecommit")
    }

  /** Clustering on the versioned layout: the latest snapshot rewritten
    * range-partitioned and sorted by `sortCols` as a new replacecommit
    * — content-preserving, history untouched (older versions keep
    * their files), file-level zone maps tighten exactly as the other
    * layouts' `cluster` restates do. Returns the new version.
    */
  def cluster(spark: SparkSession, tablePath: String, sortCols: Seq[String],
      targetFileRows: Long): Long = {
    require(sortCols.nonEmpty, "at least one clustering sort column")
    import org.apache.spark.sql.functions.col
    // Locked read-to-commit, same rationale as [[compact]]: the
    // clustered rewrite must restate the version it read, and a
    // concurrent OCC commit in the gap would be reverted without it.
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val snap = read(spark, tablePath).localCheckpoint()
      val files = math.max(1L,
        (snap.count() + targetFileRows - 1) / targetFileRows).toInt
      commit(snap.repartitionByRange(files, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*),
        tablePath, action = "replacecommit")
    }
  }

  /** Incremental query between two commits (Hudi's incremental read —
    * the feature that lets a downstream pipeline consume only what
    * changed since the commit it last saw): every key inserted,
    * updated, or deleted going from `fromVersion` to `toVersion`,
    * tagged with its change type. One full-outer shuffle on the key —
    * identical cost shape to a CDC diff of the two snapshots.
    */
  def incrementalRead(spark: SparkSession, tablePath: String, keys: Seq[String],
      fromVersion: Long, toVersion: Long): DataFrame =
    HudiLike.changeSet(
      readVersion(spark, tablePath, fromVersion),
      readVersion(spark, tablePath, toVersion), keys)
      .filter(org.apache.spark.sql.functions.col("change_type") =!= "unchanged")

  /** Incremental pull for a consumer checkpointed at `sinceVersion` —
    * the catch-up entry point a downstream pipeline calls with the
    * last version it saw. The checkpoint is validated against the FULL
    * commit history ([[instants]] — archived batch logs folded in), so
    * a consumer whose checkpoint predates an [[archiveCommits]]
    * boundary
    * still resolves; archival bounds the ACTIVE timeline listing, it
    * never loses a consumer. What DOES bound how far back a consumer
    * may lag is data retention: if [[cleanVersions]] has removed the
    * checkpointed snapshot, the pull fails loudly naming the repair
    * (full refresh) instead of silently diffing against the wrong
    * base — exactly Hudi's incremental-read contract, where archival
    * and cleaning are independent services.
    */
  def incrementalPull(spark: SparkSession, tablePath: String,
      keys: Seq[String], sinceVersion: Long): DataFrame = {
    val hist = instants(tablePath)
    require(hist.exists(_.version == sinceVersion),
      s"no instant for version $sinceVersion at $tablePath — the " +
        s"checkpoint was never committed (history: " +
        s"${hist.map(_.version).mkString(",")})")
    val to = latestVersion(tablePath).getOrElse(
      throw new IllegalStateException(s"no commits at $tablePath"))
    require(Files.exists(Paths.get(tablePath, s"v=$sinceVersion")),
      s"version $sinceVersion at $tablePath has been cleaned — this " +
        "consumer lags past the retention window and must full-refresh")
    incrementalRead(spark, tablePath, keys, sinceVersion, to)
  }

  /** One optimistic-concurrency attempt against an assumed base
    * version: merge `incoming` with `base` and stage the snapshot
    * OUTSIDE any lock (the expensive work), then — inside the short
    * [[FsLock]] critical section — validate that `base` is still the
    * latest commit and, only then, atomically move the staged
    * directory to `v=next` and swing the pointer. Returns None on
    * conflict (some other writer committed first; the staged snapshot
    * is discarded and NOTHING about the table changed).
    *
    * Because every Timeline commit is a whole-table snapshot, any
    * intervening commit overlaps ours totally — there is no
    * disjoint-files fast path like Hudi's bucket-level conflict check
    * (BucketTable is the layout for that), so conflict resolution is
    * always re-merge-and-retry, which [[upsertIntoOcc]] drives.
    */
  private[etl] def attemptOcc(spark: SparkSession, tablePath: String,
      incoming: DataFrame, keys: Seq[String], precombine: String,
      tieBreak: Seq[String], base: Option[Long]): Option[Long] = {
    val merged = base match {
      case Some(v) =>
        HudiLike.upsert(readVersion(spark, tablePath, v), incoming,
          keys, precombine, tieBreak)
      case None =>
        HudiLike.precombineLatest(incoming, keys, precombine, tieBreak)
    }
    Files.createDirectories(Paths.get(tablePath))
    val staged = Files.createTempDirectory(Paths.get(tablePath), StagedPrefix)
    // the instant's row count rides the staging write as an observed
    // metric, so the critical section does no file reads at all — its
    // cost must not scale with snapshot size
    val stagedRows = Fuse.writeObserved(merged,
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))(
      UnitSchema.write(_, staged.toString, mode = "overwrite"))
      .head.asInstanceOf[Number].longValue()
    // clean's debris sweep reads the staged dir's age: fresh from here
    // for as long as this writer may queue for the lock
    FsUtil.touch(staged)
    val committed = FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      // a staged dir swept as debris cannot commit: the attempt retries
      if (latestVersion(tablePath) != base || !Files.isDirectory(staged)) None
      else {
        val next = base.getOrElse(-1L) + 1
        Files.move(staged, Paths.get(tablePath, s"v=$next"),
          StandardCopyOption.ATOMIC_MOVE)
        // instant before the swing — same never-a-lost-instant ordering
        // as [[commit]]
        recordInstant(spark, tablePath, next, "commit",
          System.currentTimeMillis(), precountedRows = Some(stagedRows))
        swingPointer(tablePath, next)
        Some(next)
      }
    }
    if (committed.isEmpty) FsUtil.deleteRecursively(staged)
    else {
      Catalog.syncViews(spark, tablePath)
      // index reconcile AFTER the lock: the covered-head gate keeps a
      // crash here loud, and the reconcile is a Spark job no OCC
      // critical section should pay
      maintainBound(spark, tablePath)
    }
    committed
  }

  /** Multi-writer upsert under optimistic concurrency control (Hudi's
    * `OPTIMISTIC_CONCURRENCY_CONTROL` write mode with a filesystem
    * lock provider): merge and snapshot-write run lock-free against
    * the version this writer read; the lock guards only the
    * validate-and-swing instant. On conflict the writer re-reads the
    * new latest, re-applies ONLY its own incoming batch, and tries
    * again — keyed upserts commute across disjoint keys and precombine
    * resolves the rest, so no update is lost whatever the commit
    * order. Bounded retries keep a livelocked writer loud instead of
    * spinning forever.
    */
  def upsertIntoOcc(spark: SparkSession, tablePath: String, incoming: DataFrame,
      keys: Seq[String], precombine: String, tieBreak: Seq[String] = Nil,
      maxRetries: Int = 5): Long = {
    var attempt = 0
    while (attempt <= maxRetries) {
      attemptOcc(spark, tablePath, incoming, keys, precombine, tieBreak,
        latestVersion(tablePath)) match {
        case Some(v) => return v
        case None => attempt += 1
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"gave up after $maxRetries OCC retries at $tablePath — " +
        "another writer keeps committing first")
  }

  /** Restore (rollback): make `version`'s contents the newest commit.
    * Implemented as a new commit carrying the old snapshot — history
    * stays append-only (Hudi's savepoint/restore semantics), so the
    * botched commits remain readable until `clean` retires them.
    */
  def restore(spark: SparkSession, tablePath: String, version: Long): Long =
    // Locked: restore races a declared-OCC writer exactly as
    // [[compact]] does — an intervening commit between our version
    // allocation and pointer swing would be clobbered or lost.
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      commit(readVersion(spark, tablePath, version).localCheckpoint(),
        tablePath, action = "restore")
    }

  // ---- savepoints (pin a version against retention) -------------------
  //
  // Hudi's savepoint IS a timeline-level pin — on the snapshot layout
  // it reduces to "[[cleanVersions]] keeps this version": O(1)
  // metadata, no data copied. read_savepoint = the pinned version's
  // snapshot;
  // restore = that snapshot as the NEWEST commit (history stays
  // append-only — same shape as [[restore]] by version number, which
  // the pin makes safe to use long after retention would have swept
  // the version away). [[purgeKey]] deliberately rewrites pinned
  // versions too: right-to-be-forgotten trumps pins, as everywhere.

  /** A timeline savepoint pins the CURRENT version number. */
  protected def savepointBody(tablePath: String): String =
    latestVersion(tablePath).getOrElse(
      throw new IllegalStateException(s"no commits at $tablePath")).toString

  private def savepointVersion(tablePath: String, name: String): Long =
    savepointLines(tablePath, name).mkString.trim.toLong

  /** Versions pinned by any savepoint — [[cleanVersions]] keeps them. */
  private def pinnedVersions(tablePath: String): Set[Long] =
    savepoints(tablePath).map(savepointVersion(tablePath, _)).toSet

  /** Read the table AS OF a savepoint, without touching the pointer. */
  def readSavepoint(spark: SparkSession, tablePath: String,
      name: String): DataFrame =
    readVersion(spark, tablePath, savepointVersion(tablePath, name))

  /** Roll back to a savepoint: the pinned snapshot becomes the newest
    * commit (append-only history, like [[restore]]).
    */
  def restoreSavepoint(spark: SparkSession, tablePath: String,
      name: String): Unit = {
    restore(spark, tablePath, savepointVersion(tablePath, name))
    ()
  }

  /** Every non-current version is history that time travel reads. */
  override def keepsHistory: Boolean = true

  def changeCounts(tablePath: String): (Long, Long, Long) =
    (0L, versions(tablePath).maxOption.getOrElse(0L), 0L)

  /** Timeline tables clean by version ([[cleanVersions]]); file-level
    * `clean` is refused.
    */
  def clean(tablePath: String, keepVersions: Int): Seq[String] =
    throw new IllegalArgumentException(
      s"clean('$tablePath'): timeline tables clean by version — use " +
        "clean_commits(table, retain)")

  // ---- covering secondary index binding (see SecondaryIndex) ---------
  //
  // Indexes on the versioned layout track the LATEST version: every
  // version is a full snapshot, so there is no per-commit delta feed to
  // ride — maintenance IS the reconcile diff against the new head
  // (O(snapshot) scan, O(discrepancy) write), proportionate on a layout
  // whose every commit already writes a full snapshot. Like the MOR
  // layout, the index is COVERING (a timeline read has no sub-snapshot
  // routing primitive — any keyed fetch would scan v=head), so an
  // equality SELECT is served ENTIRELY from the index's probed bucket.
  // Time-travel reads (VERSION/TIMESTAMP AS OF, savepoint reads) never
  // consult the index — it answers for the head only.

  /** Reconcile every bound index to the current head — called after
    * each commit/pointer swing. A crash before this is caught by the
    * covered-head serve gate, which heals on read.
    */
  private def maintainBound(spark: SparkSession, tablePath: String): Unit =
    boundSecondaryIndexes(tablePath).foreach { case (_, idxPath) =>
      SecondaryIndex.ensureCurrent(spark, "timeline", tablePath, idxPath)
    }

  /** Force-invalidate bound indexes after an IN-PLACE history rewrite
    * ([[purgeKey]] — the head does not move, so the covered-head gate
    * alone cannot see the change) and reconcile now: the purged
    * mappings tombstone out of the index in the same call.
    */
  private def invalidateBound(spark: SparkSession, tablePath: String): Unit =
    boundSecondaryIndexes(tablePath).foreach { case (_, idxPath) =>
      SecondaryIndex.setCoveredHead(idxPath, -1L)
      SecondaryIndex.ensureCurrent(spark, "timeline", tablePath, idxPath)
    }
}
