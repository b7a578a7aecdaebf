package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Copy-on-write with a bucket index: partial rewrites instead of
  * whole-table rewrites (reference: Hudi's `BUCKET` index / file-group
  * routing — the piece that makes CoW upserts affordable at scale; the
  * reference pipeline gets it implicitly from
  * `hoodie.datasource.write.recordkey.field`,
  * pipeline_architecture.py:246, because Hudi routes records to file
  * groups under the hood).
  *
  * [[HudiLike.upsertInto]] and [[Timeline.upsertInto]] rewrite the
  * whole merged snapshot per commit — O(table) writes. Here the key
  * space is hash-partitioned into a fixed number of buckets (Hudi's
  * bucket index), a record's bucket is `pmod(xxhash64(keys), n)`, and
  * an upsert rewrites ONLY the buckets the batch touches:
  *
  *   write cost = O(batch + touched fraction of table)
  *
  * For a trickle batch hitting k of n buckets that is k/n of the table,
  * not all of it. The rewrite of all touched buckets is ONE Spark job
  * (`partitionBy(bucket)` write), not a per-bucket loop — at 1000
  * buckets a driver loop would schedule 1000 jobs.
  *
  * Layout under `tablePath/`:
  *   - `gen=G/__bucket=B/`  bucket B's data as written by commit G
  *   - `_manifest`          a `props numBuckets=… bucketBy=…` routing
  *                          header plus one `B G` line per bucket — the
  *                          commit makes new generations AND routing
  *                          visible by atomically replacing this file;
  *                          dirs are immutable
  *   - `_props`             keys / precombine / tieBreak (authoritative)
  *                          + a routing mirror of the manifest header
  *
  * Readers resolve the manifest once, then read each generation
  * directory filtered to the buckets still live in it. A failed writer
  * leaves orphan `gen=` dirs that no manifest references — invisible to
  * readers, removed by [[clean]] (Hudi's rollback of an uncommitted
  * instant works the same way).
  */
object BucketTable extends TableLayout {

  val kind = "bucket"

  private val BucketCol = "__bucket"

  private def manifestPath(tablePath: String): Path = Paths.get(tablePath, "_manifest")
  private def propsPath(tablePath: String): Path = Paths.get(tablePath, "_props")
  private def schemaPath(tablePath: String): Path = Paths.get(tablePath, "_schema")

  /** Persist the committed snapshot schema (sans the routing shadow):
    * the shape a read must still serve once every row has been
    * deleted — an EMPTIED table is a legitimate state, not a missing
    * one (Hudi keeps the latest schema in commit metadata for exactly
    * this). Refreshed on every schema-bearing commit; absent only on
    * tables last written before the upgrade, where the empty read
    * stays loud until the next commit records it.
    */
  private def writeSchema(tablePath: String, df: DataFrame): Unit = {
    val ddl = org.apache.spark.sql.types.StructType(
      df.schema.filterNot(_.name == BucketCol)).toDDL
    val tmp = Paths.get(tablePath, s"_schema.tmp${System.nanoTime()}")
    Files.writeString(tmp, ddl,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, schemaPath(tablePath), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** The zero-row snapshot of an empty-manifest table, shaped by the
    * recorded `_schema` — loud when no commit ever recorded one.
    */
  private def emptySnapshot(spark: SparkSession, tablePath: String): DataFrame = {
    val sp = schemaPath(tablePath)
    require(Files.exists(sp),
      s"bucket table at $tablePath has no committed data and no recorded " +
        "schema (created empty before schema recording); upsert a " +
        "non-empty batch first")
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(Files.readString(sp)))
  }

  final case class Props(keys: Seq[String], precombine: String,
      tieBreak: Seq[String], numBuckets: Int, bucketBy: Seq[String]) {
    require(bucketBy.nonEmpty && keys.startsWith(bucketBy),
      s"bucketBy ($bucketBy) must be a non-empty PREFIX of keys ($keys) " +
        "so a full-key lookup can derive the bucket from its leading values")
  }

  /** Whether a bucket table has been created (committed) at `tablePath`. */
  def exists(tablePath: String): Boolean = Files.exists(manifestPath(tablePath))

  /** Table config. Keys / precombine / tieBreak come from `_props`
    * (immutable after create); ROUTING (numBuckets / bucketBy) prefers
    * the manifest's `props` header when present — the manifest is the
    * single atomic commit point, so routing can never be observed out
    * of step with the bucket→generation map it routes into (a crash
    * between two separate file writes during [[rescale]] would
    * otherwise durably leave lookups probing buckets the manifest
    * doesn't have). Pre-header manifests (older tables) fall back to
    * `_props`, which was authoritative when they were written.
    */
  def props(tablePath: String): Props = {
    val m = Files.readAllLines(propsPath(tablePath)).asScala
      .map(_.split('=')).collect { case Array(k, v) => k -> v }.toMap
    val keys = m("keys").split(',').toSeq.filter(_.nonEmpty)
    // tables written before the bucketBy option default to hashing the
    // full record key (the only behavior that existed then)
    val by = m.getOrElse("bucketBy", "").split(',').toSeq.filter(_.nonEmpty)
    val base = Props(
      keys,
      m("precombine"),
      m.getOrElse("tieBreak", "").split(',').toSeq.filter(_.nonEmpty),
      m("numBuckets").toInt,
      if (by.isEmpty) keys else by)
    manifestRouting(tablePath) match {
      case Some((n, mby)) => base.copy(numBuckets = n,
        bucketBy = if (mby.isEmpty) base.bucketBy else mby)
      case None => base
    }
  }

  private def manifestLines(tablePath: String): Seq[String] = {
    val p = manifestPath(tablePath)
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p).asScala.filter(_.nonEmpty).toSeq
  }

  /** (numBuckets, bucketBy) from the manifest's `props` header — same
    * line format the savepoint files pin.
    */
  private def manifestRouting(tablePath: String): Option[(Int, Seq[String])] =
    manifestLines(tablePath).find(_.startsWith("props ")).map(parseRouting)

  private def parseRouting(line: String): (Int, Seq[String]) = {
    val kv = line.drop(6).split(' ').map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap
    (kv("numBuckets").toInt,
      kv.getOrElse("bucketBy", "").split(',').toSeq.filter(_.nonEmpty))
  }

  /** bucket → generation that last rewrote it. */
  def manifest(tablePath: String): Map[Int, Long] =
    manifestLines(tablePath).filterNot(_.startsWith("props ")).map { l =>
      val Array(b, g) = l.split(' '); b.toInt -> g.toLong
    }.toMap

  /** Atomic `_props` write. Since routing moved into the manifest
    * header this is a MIRROR for routing fields (kept in sync
    * best-effort so the file stays a complete human-readable record);
    * keys/precombine/tieBreak here remain authoritative.
    */
  private def writeProps(tablePath: String, p: Props): Unit = {
    val tmp = Paths.get(tablePath, s"_props.tmp${System.nanoTime()}")
    Files.writeString(tmp,
      s"keys=${p.keys.mkString(",")}\nprecombine=${p.precombine}\n" +
        s"tieBreak=${p.tieBreak.mkString(",")}\nnumBuckets=${p.numBuckets}\n" +
        s"bucketBy=${p.bucketBy.mkString(",")}\n",
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, propsPath(tablePath), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def commitsPath(tablePath: String): Path =
    Paths.get(tablePath, "_commits")

  /** Append-only commit log: one line `no b1,b2,...` per manifest
    * swing, listing the buckets whose generation pointer CHANGED in
    * that commit (rewritten, first written, or retired). This is what
    * makes the CoW layout incrementally consumable (Hudi's commit
    * timeline role): [[changedSince]] resolves "commits after c" to a
    * bucket set without diffing generations — generation ids
    * themselves cannot order commits (OCC generations are
    * nanotime-unique and allocated BEFORE the commit point, so a
    * smaller gen can commit later). Commit numbers are allocated at
    * the manifest swing, strictly monotonic, never reused.
    *
    * Growth bound: one short line per commit (~tens of bytes), read
    * once per commit and per incremental pull — at a minute-cadence
    * ingest for a year that is ~500k lines / ~10 MB, the same order as
    * Hudi's active timeline; should it ever matter, the archival move
    * is the Timeline one (fold a prefix into a batch file and ratchet
    * a floor), which the loud pre-log guard in [[changedSince]] already
    * anticipates.
    */
  // a torn trailing line from a crashed append parses to None — the
  // retry re-appends a complete one. Entries may carry a generation
  // suffix (`b:g` / `b:-`, see commitLogFull) — the bucket id is the
  // prefix either way.
  private def parseCommitLine(l: String): Option[(Long, Set[Int])] =
    l.split(' ') match {
      case Array(no, bs, _*) if no.nonEmpty && no.forall(_.isDigit) =>
        Some((no.toLong,
          bs.split(',').filter(_.nonEmpty)
            .map(_.takeWhile(_ != ':').toInt).toSet))
      case _ => None
    }

  def resolveAsOf(tablePath: String, tsMs: Long): Long =
    CommitLogFile.resolveAsOf(tablePath, tsMs)

  def showCommits(spark: SparkSession, tablePath: String): DataFrame =
    commitFrame(spark, CommitLogFile.entries(tablePath).map {
      case (no, _, ts) => (no, "commit", ts.getOrElse(-1L)) })

  /** The ACTIVE commit log — the hot-path read (one short file however
    * old the table, once [[archiveCommits]] runs periodically).
    */
  def commitLog(tablePath: String): Seq[(Long, Set[Int])] = {
    val p = commitsPath(tablePath)
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p).asScala.toSeq.flatMap(parseCommitLine)
  }

  /** Archived + active commit history — the cold path old cursors and
    * historical reads resolve through.
    */
  def fullCommitLog(tablePath: String): Seq[(Long, Set[Int])] =
    CommitLogFile.fullLines(tablePath).flatMap(parseCommitLine)

  /** The commit log WITH generation info: commit → (bucket →
    * Some(generation) for a repoint, None for a retirement). Lines
    * written before generations were recorded (pre-upgrade tables)
    * parse as `None` — [[manifestAsOf]] refuses histories containing
    * them rather than reconstruct a wrong snapshot. Reads the FULL
    * history (historical reads are the cold path archival exists for).
    *
    * STRICT line acceptance: a generation-bearing line is valid only
    * as exactly `no entries ts=...` — a torn append truncated
    * mid-payload (e.g. `3:17` cut to `3:1`) would otherwise parse as a
    * well-formed smaller-but-wrong diff and, once a later commit
    * repoints the same buckets, silently serve the wrong generation to
    * intermediate historical reads. Exact 2-token lines are the
    * pre-timestamp legacy shape; anything else (including a ts-era
    * line cut before its terminator, which collapses to the legacy
    * shape and is treated as generation-unknown) classifies as
    * non-reconstructable, which [[manifestAsOf]] refuses in range.
    */
  def commitLogFull(tablePath: String)
      : Seq[(Long, Option[Map[Int, Option[Long]]])] =
    CommitLogFile.fullLines(tablePath).flatMap { l =>
      def entriesOf(bs: String): Option[Map[Int, Option[Long]]] = {
        val entries = bs.split(',').filter(_.nonEmpty).toSeq
        if (entries.forall(_.contains(':')))
          Some(entries.map { e =>
            val Array(b, g) = e.split(':')
            b.toInt -> (if (g == "-") None else Some(g.toLong))
          }.toMap)
        else None // legacy line: buckets only, generations unknown
      }
      l.split(' ') match {
        case Array(no, bs, ts)
            if no.nonEmpty && no.forall(_.isDigit) && ts.startsWith("ts=") =>
          Some((no.toLong, entriesOf(bs)))
        case Array(no, _) if no.nonEmpty && no.forall(_.isDigit) =>
          // pre-timestamp legacy line — generations unknowable from
          // here (a ts-era line torn down to this shape is
          // indistinguishable and equally non-reconstructable);
          // manifestAsOf refuses these in range
          Some((no.toLong, None))
        // any other shape (≥3 tokens without the ts= terminator — a
        // torn append) is EXCLUDED, like the bloom twin: the gap then
        // trips manifestAsOf's fold-to-live head guard loudly instead
        // of parsing as a smaller-but-wrong diff
        case _ => None
      }
    }

  /** The bucket→generation map AS OF `commit`: fold every logged
    * repointing through it. Loud on upgraded tables (log doesn't
    * cover birth), legacy bucket-only lines in range, and
    * out-of-range commits.
    */
  def manifestAsOf(tablePath: String, commit: Long): Map[Int, Long] = {
    val full = commitLogFull(tablePath)
    val head = full.map(_._1).maxOption.getOrElse(0L)
    require(commit >= 1 && commit <= head,
      s"VERSION AS OF $commit at $tablePath: commits run 1..$head")
    require(full.map(_._1).minOption.contains(1L),
      s"the commit log at $tablePath does not cover the table's birth " +
        "(created before commit logging) — historical reads need a " +
        "from-birth log")
    val upTo = full.filter(_._1 <= commit)
    val legacy = upTo.collect { case (no, None) => no }
    // NOT relaxed to "2-token payloads that fully parse as b:g": a
    // ts-era line torn mid-payload (`0:17,1:18 ts=…` cut to `0:17,1:1`)
    // is itself a fully-parsing 2-token line — accepting the shape
    // would readmit exactly the silent-wrong-snapshot bug the strict
    // parser closed. Legacy histories are contracted unreadable; the
    // recovery is a compaction, which re-points every live bucket and
    // restarts reconstructable history from its commit.
    require(legacy.isEmpty,
      s"commit(s) ${legacy.mkString(",")} at $tablePath were logged " +
        "without generation info (pre-upgrade writes, or a torn line " +
        "collapsed to that shape) — versions before them are not " +
        "reconstructable; run a compaction to restart historical " +
        "reads from a fresh full re-point")
    def fold(entries: Seq[(Long, Option[Map[Int, Option[Long]]])])
        : Map[Int, Long] =
      entries.sortBy(_._1).foldLeft(Map.empty[Int, Long]) {
        case (m, (_, Some(reps))) =>
          reps.foldLeft(m) {
            case (m2, (b, Some(g))) => m2 + (b -> g)
            case (m2, (b, None)) => m2 - b
          }
        case (m, _) => m
      }
    // crash-window guard: log lines precede the manifest swing (the
    // incremental feed needs that order), so a crash in between leaves
    // a PHANTOM line whose repointing no swing applied. Per-bucket
    // entries are last-wins, so the next write to the same bucket
    // heals — but an un-rewritten phantom would serve the crashed
    // commit's data as history. Detect at the head: the full fold must
    // reproduce the live manifest, else refuse loudly (a compaction —
    // which re-points every live bucket — resets history). The log
    // legitimately LEADS the manifest between a live writer's
    // pre-swing append and its swing — both run under the table lock —
    // so a mismatch re-reads ONCE under the lock (draining any
    // in-flight writer) before declaring the history unreliable.
    if (full.forall(_._2.isDefined) && fold(full) != manifest(tablePath)) {
      val consistent =
        try FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
          val f2 = commitLogFull(tablePath)
          !f2.forall(_._2.isDefined) || fold(f2) == manifest(tablePath)
        } catch {
          case _: java.util.ConcurrentModificationException => false
        }
      require(consistent,
        s"the commit log at $tablePath does not fold to the live " +
          "manifest (a crash-torn or phantom line) — historical reads " +
          "are unreliable until a compaction resets history")
    }
    fold(upTo)
  }

  /** Read the table AS OF commit `commit` — `SELECT ... VERSION AS OF`
    * on the bucket layout: the historical bucket→generation map
    * reconstructed from the commit log, served from the (immutable)
    * generation dirs it references. Works for any commit whose
    * generations [[clean]] hasn't reclaimed — pin a [[savepoint]]
    * before cleaning to keep a version readable; a reclaimed version
    * fails loudly, never serves a partial snapshot.
    */
  def readVersion(spark: SparkSession, tablePath: String,
      commit: Long): DataFrame = {
    val m = manifestAsOf(tablePath, commit)
    val missing = m.filter { case (b, g) =>
      !Files.exists(Paths.get(tablePath, s"gen=$g", s"$BucketCol=$b")) }
    require(missing.isEmpty,
      s"VERSION AS OF $commit at $tablePath: generation dir(s) " +
        s"${missing.toSeq.sorted.map { case (b, g) => s"gen=$g/$b" }
          .mkString(",")} were reclaimed by clean — create a savepoint " +
        "before cleaning to keep historical versions readable")
    if (m.isEmpty) read(spark, tablePath).limit(0)
    else readBuckets(spark, tablePath, m.keySet, m).drop(BucketCol)
  }

  /** The newest commit number — what an incremental consumer
    * checkpoints after a pull or a full-read seed.
    */
  def latestCommit(tablePath: String): Long =
    commitLog(tablePath).map(_._1).maxOption.getOrElse(0L)

  /** One atomic rename commits BOTH the bucket→generation map and the
    * routing that addresses it (the `props` header line). The commit
    * log line is appended BEFORE the swing: a crash in between leaves
    * a phantom entry whose buckets re-serve their (unchanged) current
    * content — idempotent — whereas the reverse order could commit a
    * change no log line records, silently invisible to incremental
    * consumers.
    */
  private def writeManifest(tablePath: String, m: Map[Int, Long],
      p: Props, cdc: CdcLog.Action): Long =
    // the commit-number allocation below is a read-modify-write on the
    // shared `_commits` log — the single-writer paths (create /
    // upsertInto / overwriteTable / compact) must serialize it against
    // concurrent OCC writers (whose writeManifestLocked runs in-lock),
    // or two commits can log the same number and corrupt changedSince's
    // window semantics
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      writeManifestLocked(tablePath, m, p, cdc)
    }

  /** The commit point — caller MUST hold the table lock (commit-number
    * allocation reads `_commits` then appends). When cdc is enabled,
    * the commit's images follow [[CdcLog]]'s two-phase discipline:
    * staged before the log append, published only after the manifest
    * swing — a crash in between leaves a commit whose images are
    * missing (served loudly), never published images of a commit that
    * didn't happen. Returns the commit number now heading the log (a
    * no-op swing allocates none and returns the unchanged head) — what
    * index maintenance records as covered.
    */
  private def writeManifestLocked(tablePath: String, m: Map[Int, Long],
      p: Props, cdc: CdcLog.Action): Long = {
    val old = manifest(tablePath)
    val changed = (m.keySet ++ old.keySet).filter(b => m.get(b) != old.get(b))
    val commit = latestCommit(tablePath) + 1
    val cdcLive = changed.nonEmpty && CdcLog.enabled(tablePath)
    if (cdcLive) cdc match {
      case CdcLog.Action.Changes(rows) => CdcLog.stage(tablePath, commit, rows())
      case CdcLog.Action.Preserving => CdcLog.stageEmpty(tablePath, commit)
      case CdcLog.Action.Destructive => CdcLog.ratchet(tablePath, commit)
    }
    if (changed.nonEmpty)
      // each changed bucket logs its NEW generation (`b:g`) or its
      // retirement (`b:-`) — the per-commit repointing record that
      // makes manifestAsOf/readVersion possible; changedSince reads
      // just the bucket ids
      Files.writeString(commitsPath(tablePath),
        s"$commit ${changed.toSeq.sorted
          .map(b => m.get(b).fold(s"$b:-")(g => s"$b:$g")).mkString(",")} " +
          s"ts=${System.currentTimeMillis()}\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    val tmp = Paths.get(tablePath, s"_manifest.tmp${System.nanoTime()}")
    Files.writeString(tmp,
      (s"props numBuckets=${p.numBuckets} bucketBy=${p.bucketBy.mkString(",")}" +:
        m.toSeq.sorted.map { case (b, g) => s"$b $g" }).mkString("\n"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, manifestPath(tablePath), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    if (cdcLive) CdcLog.publish(tablePath, commit)
    if (changed.nonEmpty) commit else commit - 1
  }

  /** Pre-commit full-row state of a batch's keys — the before side of
    * an index reconcile (empty-table-safe).
    */
  private def preBatchState(spark: SparkSession, tablePath: String,
      tagged: DataFrame, p: Props): DataFrame =
    (if (manifest(tablePath).isEmpty) tagged.drop(BucketCol).limit(0)
     else lookupMany(spark, tablePath, tagged.drop(BucketCol)))
      .localCheckpoint()

  /** Reconcile every bound index from the SAME pre/post full-row
    * states of a commit's touched rows (one probe serves them all,
    * each through its own mapping projection), then record the commit
    * as covered — runs AFTER the commit point (an index ahead of the
    * commit would serve uncommitted rows; the crash window between
    * commit and reconcile is exactly what the covered-head serve
    * check catches).
    */
  private def maintainBound(spark: SparkSession, tablePath: String,
      bound: Seq[(Seq[String], String)], pre: Option[DataFrame],
      post: => DataFrame, p: Props, commitNo: Long): Unit =
    for (preDf <- pre if bound.nonEmpty) {
      // sideDiff consumes post once per index — materialize it only
      // when SEVERAL indexes would each re-evaluate the probe
      val postC = MaintProf.timed("bucket.postCkpt")(
        if (bound.sizeIs > 1) post.localCheckpoint() else post)
      for ((secCols, idxPath) <- bound)
        SecondaryIndex.withMaintLock(idxPath) {
          val mapCols = (secCols ++ p.keys).map(col)
          SecondaryIndex.reconcile(spark, idxPath,
            preDf.select(mapCols: _*), postC.select(mapCols: _*))
          SecondaryIndex.markCoveredLocked(idxPath, commitNo)
        }
    }

  /** Fresh parquet read of specific buckets at one (possibly not yet
    * committed) generation — the post-image side of a commit's cdc
    * diff, read back from the just-written files instead of
    * recomputing the merge.
    */
  private def readGenBuckets(spark: SparkSession, tablePath: String,
      gen: Long, buckets: Seq[Int], schemaOf: DataFrame): DataFrame =
    if (buckets.isEmpty) schemaOf.limit(0)
    else genFrame(spark, tablePath, gen, buckets).drop(BucketCol)

  /** Buckets of one generation, `__bucket` discovered from the dirs. */
  private def genFrame(spark: SparkSession, tablePath: String, gen: Long,
      buckets: Seq[Int]): DataFrame = {
    val unit = s"$tablePath/gen=$gen"
    UnitSchema.read(spark, unit,
      buckets.sorted.map(b => s"$unit/$BucketCol=$b"), partitioned = true)
  }

  /** Hudi-style incremental query on the CoW bucket layout: the
    * CURRENT content of every bucket some commit AFTER `sinceCommit`
    * rewrote — O(changed buckets) read, never O(table). Like
    * [[PartitionedTable.incrementalRead]]'s partition restatement
    * contract, a changed bucket re-delivers its full current content
    * (a bucket is the layout's rewrite unit, so that IS the commit's
    * post-image); `clean` never invalidates the feed because the
    * manifest always resolves current files. A rescale/cluster commit
    * lists every bucket — the consumer re-reads the table, which is
    * correct (routing changed under it). Fails loudly on a
    * from-the-future cursor and on a table created before the commit
    * log existed.
    *
    * CONSUMER CONTRACT — restatement, not a change log: apply the feed
    * by REPLACING each changed bucket wholesale (recompute a row's
    * bucket as `pmod(xxhash64(bucketBy cols), numBuckets)` from
    * [[props]] — a pure function of the row), i.e. drop local rows of
    * the changed buckets, then insert the feed. That is what makes
    * in-bucket DELETIONS visible: a deleted key simply isn't in its
    * bucket's restated content (a keyed UPSERT of the feed would miss
    * it). The changed-bucket set is exactly the feed rows' buckets —
    * a bucket emptied entirely has no row to say so, which is why that
    * case raises below instead. `BucketTableSpec` replays a
    * delete-in-window through this discipline.
    */
  def changedSince(spark: SparkSession, tablePath: String,
      sinceCommit: Long): DataFrame = {
    require(Files.exists(commitsPath(tablePath)),
      s"no commit log at $tablePath (table created before incremental " +
        "reads existed) — full-read and checkpoint latestCommit after " +
        "the next commit")
    val active = commitLog(tablePath)
    val head = active.map(_._1).maxOption.getOrElse(0L)
    require(sinceCommit <= head,
      s"incremental cursor $sinceCommit past the commit head $head at " +
        s"$tablePath — checkpoint only commits the log has served")
    // archival keeps the active log a SUFFIX of the history: a cursor
    // at or past its first entry minus one is fully served by it;
    // older cursors resolve through the archive — bounded hot path,
    // complete cold path, never a silent skip
    val activeMin = active.map(_._1).minOption.getOrElse(1L)
    val log =
      if (sinceCommit >= activeMin - 1) active else fullCommitLog(tablePath)
    // a table UPGRADED to the commit log (created before it existed)
    // gets the log lazily on its first post-upgrade write, numbered
    // past the pre-existing commits — the log does NOT cover those, so
    // a cursor below its first entry (create-is-commit-1 tables have
    // minLogged == 1, unaffected) would silently under-deliver the
    // bootstrap
    val minLogged = log.map(_._1).minOption.getOrElse(1L)
    require(sinceCommit >= minLogged - 1,
      s"incremental cursor $sinceCommit predates the commit log at " +
        s"$tablePath (first logged commit $minLogged — table upgraded " +
        "after creation); re-sync from a snapshot read and checkpoint " +
        "latestCommit")
    val changed = log.filter(_._1 > sinceCommit).flatMap(_._2).toSet
    val live = manifest(tablePath).keySet.intersect(changed)
    // a bucket RETIRED in the window (every row deleted / overwritten
    // away) has an empty current content a row feed cannot express —
    // serving nothing would leave the consumer holding rows the table
    // no longer has, so fail loudly toward a snapshot re-sync
    val retired = changed -- manifest(tablePath).keySet
    require(retired.isEmpty,
      s"incremental window ($sinceCommit, $head] at $tablePath retired " +
        s"bucket(s) ${retired.toSeq.sorted.mkString(",")} — an empty " +
        "restatement is not expressible in a row feed; re-sync from a " +
        "snapshot read and checkpoint latestCommit")
    if (live.isEmpty) read(spark, tablePath).limit(0)
    else readBuckets(spark, tablePath, live).drop(BucketCol)
  }

  /** Turn on row-level CDC (before/after images per commit — the Hudi
    * 0.13 `hoodie.table.cdc.enabled` surface): commits AFTER the
    * current head get images, served by [[changesCdc]]. A consumer
    * seeds from a snapshot and checkpoints [[latestCommit]]. Unlike
    * [[changedSince]]'s restatements, the image feed expresses
    * deletions and update priors exactly, and a content-preserving
    * rescale/cluster/compact contributes zero rows instead of a
    * whole-table restate.
    */
  override def enableCdc(tablePath: String): Unit =
    CdcLog.enable(tablePath, latestCommit(tablePath))

  /** The row-level CDC feed for `(sinceCommit, head]`: `_op` ∈ {i,u,d},
    * `_before_<c>`/`_after_<c>` images, `_change_seq` = the commit
    * number. Loud on cursors below the cdc floor (enabled later, or a
    * destructive overwrite/restore in between) and on windows with
    * missing images — see [[CdcLog.changes]].
    */
  override def changesCdc(spark: SparkSession, tablePath: String,
      sinceCommit: Long): DataFrame =
    CdcLog.changes(spark, tablePath, sinceCommit, latestCommit(tablePath))

  private def withBucket(df: DataFrame, p: Props): DataFrame =
    df.withColumn(BucketCol,
      pmod(xxhash64(p.bucketBy.map(col): _*), lit(p.numBuckets)).cast("int"))

  /** localCheckpoint a bucket-tagged frame and return its distinct
    * bucket set, computed INSIDE the checkpoint job (an observed
    * collect_set) instead of as its own `distinct().collect()` action
    * — one Spark job per commit/lookup fewer (guide §2.4). The set is
    * at most `numBuckets` ints, the same driver footprint the collect
    * had.
    */
  private def checkpointRouted(df: DataFrame): (DataFrame, Set[Int]) = {
    val (ck, vs) = Fuse.checkpointObserved(df, collect_set(col(BucketCol)))
    (ck, vs.head.asInstanceOf[scala.collection.Seq[Any]]
      .map(_.asInstanceOf[Number].intValue()).toSet)
  }

  private def deleteRecursively(p: Path): Unit = FsUtil.deleteRecursively(p)

  /** Roll back an uncommitted generation: a `gen=G` dir with no
    * manifest entry pointing at G is debris from a writer that died
    * between the parquet write and the manifest swing (or from an
    * empty create). Readers never saw it; remove it so the retry's
    * `errorifexists` write can proceed — Hudi's rollback of a failed
    * instant, run lazily by the next writer.
    */
  private def rollbackOrphan(tablePath: String, gen: Long): Unit = {
    val dir = Paths.get(tablePath, s"gen=$gen")
    if (Files.exists(dir) && !manifest(tablePath).values.exists(_ == gen) &&
        !pinnedGens(tablePath)(gen))
      deleteRecursively(dir)
  }

  /** Write `df`'s buckets under `gen=G/` in one partitioned job and
    * return the bucket ids actually written (read back from the
    * directory names — never inferred, so a skipped empty bucket can't
    * desync the manifest).
    */
  private def writeGen(df: DataFrame, tablePath: String, gen: Long): Seq[Int] = {
    rollbackOrphan(tablePath, gen)
    val dir = Paths.get(tablePath, s"gen=$gen")
    // cluster by bucket before the partitioned write: every bucket is
    // produced by one task → one file per bucket dir. Without it each
    // of the writer's input tasks opens a file in every bucket it sees
    // (tasks × buckets small files — the classic partitionBy blowup)
    UnitSchema.write(df.repartition(col(BucketCol)), dir.toString,
      partitionBy = Seq(BucketCol))
    listWrittenBuckets(dir)
  }

  /** The bucket ids a partitioned write actually produced, read back
    * from the directory names — never inferred from the input, so a
    * skipped empty bucket can't desync the manifest. Shared by every
    * full-generation writer (writeGen / rescale / cluster).
    */
  private def listWrittenBuckets(dir: Path): Seq[Int] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .collect { case n if n.startsWith(s"$BucketCol=") =>
        n.drop(BucketCol.length + 1).toInt }
      .toSeq.sorted
    finally s.close()
  }

  /** Initialize: every record hashed to its bucket, all buckets at
    * generation 0.
    */
  /** `bucketBy` (default: the full record key) chooses the hashed
    * column subset — a table bucketed by a key PREFIX supports point
    * reads by that prefix alone ([[SecondaryIndex]] buckets its
    * (secondary value, primary key) entries by the secondary value
    * this way). Routing is unaffected: a record's bucket is still a
    * pure function of its columns.
    */
  def create(df: DataFrame, tablePath: String, keys: Seq[String],
      precombine: String, tieBreak: Seq[String] = Nil,
      numBuckets: Int = 16, bucketBy: Seq[String] = Nil,
      cdc: Boolean = false): Unit = {
    require(!Files.exists(manifestPath(tablePath)),
      s"table already exists at $tablePath")
    Files.createDirectories(Paths.get(tablePath))
    val by = if (bucketBy.isEmpty) keys else bucketBy
    val p = Props(keys, precombine, tieBreak, numBuckets, by)
    writeProps(tablePath, p)
    // cdc-at-create: floor 0 makes cursor 0 a FULL image bootstrap —
    // the create commit's images are every row as an insert
    if (cdc) CdcLog.enable(tablePath, 0L)
    val deduped = HudiLike.precombineLatest(df, keys, precombine, tieBreak)
    val written = writeGen(withBucket(deduped, p), tablePath, 0L)
    writeSchema(tablePath, deduped)
    writeManifest(tablePath, written.map(_ -> 0L).toMap, p,
      CdcLog.Action.Changes { () =>
        val spark = df.sparkSession
        val content = readGenBuckets(spark, tablePath, 0L, written,
          df.limit(0))
        CdcLog.diff(content.limit(0), content, keys)
      })
  }

  /** Read the live table (all buckets at their manifest generation).
    * One parquet read per live generation, dir-partition-pruned to the
    * buckets still current in it. Generations written after a
    * schema-evolving upsert may carry extra columns — the union allows
    * missing columns, so older generations read with nulls there
    * (schema-on-read, same contract as `HudiLike.upsert`).
    */
  def read(spark: SparkSession, tablePath: String): DataFrame = {
    val m = manifest(tablePath)
    if (m.isEmpty) {
      require(exists(tablePath), s"no bucket table at $tablePath")
      // a delete can legitimately empty the whole table — serve the
      // zero-row snapshot at the recorded schema, not an error
      return emptySnapshot(spark, tablePath)
    }
    readBuckets(spark, tablePath, m.keySet).drop(BucketCol)
  }

  private def readBuckets(spark: SparkSession, tablePath: String,
      buckets: Set[Int]): DataFrame =
    readBuckets(spark, tablePath, buckets, manifest(tablePath))

  /** Read `buckets` as of an EXPLICIT manifest snapshot — the OCC
    * writer merges against the manifest it validated, never a fresher
    * one a concurrent commit may have swung in between.
    */
  private def readBuckets(spark: SparkSession, tablePath: String,
      buckets: Set[Int], m0: Map[Int, Long]): DataFrame = {
    val m = m0.view.filterKeys(buckets).toMap
    m.groupBy(_._2).map { case (gen, entries) =>
      genFrame(spark, tablePath, gen, entries.keys.toSeq)
    }.reduceOption(SchemaShim.unionByName)
      .getOrElse(read(spark, tablePath).limit(0).withColumn(BucketCol, lit(0)))
  }

  /** Partial-rewrite upsert: hash the batch to buckets, merge against
    * ONLY those buckets' current data, write them as `gen=G+1` in one
    * job, swing the manifest. Untouched buckets keep their files —
    * `BucketTableSpec` asserts it.
    *
    * Single-writer path (no lock, sequential generations): concurrent
    * callers could interleave manifest read-modify-write and lose a
    * commit — multi-writer ingest goes through [[upsertIntoOcc]].
    *
    * The touched-bucket set is collected to the driver: it is at most
    * `numBuckets` ints (bounded by config, not by data), the same
    * driver-side knowledge Hudi's write client needs to plan a commit.
    */
  def upsertInto(spark: SparkSession, tablePath: String, incoming: DataFrame,
      validators: Seq[PreCommit.Rule] = Nil): Seq[Int] = {
    val p = props(tablePath)
    // the touched-bucket set rides the tag checkpoint as an observed
    // collect_set — the routing `distinct().collect()` job it used to
    // cost is gone (guide §2.4; at most numBuckets ints, same driver
    // footprint as before)
    val (tagged, touched) = MaintProf.timed("bucket.tagCkpt")(
      checkpointRouted(withBucket(
        HudiLike.precombineLatest(incoming, p.keys, p.precombine, p.tieBreak), p)))
    // gate BEFORE any generation write: a rejected batch leaves the
    // table byte-identical (PreCommit's contract)
    PreCommit.validate(tagged, validators)
    if (touched.isEmpty) return Seq.empty
    // maxOption / limit(0): a table created from an empty frame has an
    // empty manifest — the first non-empty upsert merges against
    // nothing and commits generation 0
    val committed = manifest(tablePath)
    val bound = boundSecondaryIndexes(tablePath)
    val gen = nextGen(tablePath)
    val existing =
      if (committed.isEmpty) tagged.limit(0)
      else readBuckets(spark, tablePath, touched)
    // pre/post index probes ride the frames this commit already
    // computes: `touched` IS the bucket set a lookupMany of the
    // batch's keys would route to, so pre = the about-to-be-merged
    // bucket content ⋉ batch keys (checkpointed BEFORE the swing) and
    // post = the just-written generation ⋉ batch keys — no second
    // routing job, no re-derived key frame (guide §2.4: the probe
    // shuffles/reads were pure duplicates of work already in the plan)
    // plain projection: `tagged` is precombined (one row per key) and
    // checkpointed, so the probes' semi-join build sides need no
    // dedup shuffle and no extra materialization job
    val wanted = bound.headOption.map(_ => tagged.select(p.keys.map(col): _*))
    val pre = wanted.map(w => MaintProf.timed("bucket.pre")(
      existing.drop(BucketCol).join(w, p.keys, "leftsemi")
        .localCheckpoint()))
    val merged = HudiLike.upsert(existing, tagged,
      p.keys, p.precombine, p.tieBreak)
      // recompute instead of carrying: upsert projects to the data
      // columns of both sides; bucket is a pure function of the keys
    val written = MaintProf.timed("bucket.writeGen")(
      writeGen(withBucket(merged.drop(BucketCol), p), tablePath, gen))
    writeSchema(tablePath, merged)
    // an upsert can only change the BATCH's keys — restrict both cdc
    // diff sides to them so the full-outer join aggregates O(batch)
    // rows, not O(touched region) (guide §2.3); the region's other
    // rows are copied byte-equal and would diff to filtered no-ops
    val c = MaintProf.timed("bucket.manifestCdc")(
      writeManifest(tablePath, manifest(tablePath) ++ written.map(_ -> gen), p,
      CdcLog.Action.Changes { () =>
        val bk = tagged.select(p.keys.map(col): _*) // precombined: unique
        val before = existing.drop(BucketCol)
          .join(bk, p.keys, "leftsemi")
        CdcLog.diff(before,
          readGenBuckets(spark, tablePath, gen, written, before)
            .join(bk, p.keys, "leftsemi"), p.keys)
      }))
    // the post side re-reads what readers now see for the batch's
    // keys — the written files, never a replay of the merge algebra
    // that could drift from them
    maintainBound(spark, tablePath, bound, pre,
      MaintProf.timed("bucket.post")(
        readGenBuckets(spark, tablePath, gen, written, tagged.drop(BucketCol))
          .join(wanted.get, p.keys, "leftsemi")), p, c)
    written
  }

  /** Hudi's `insert_overwrite_table` (the replacecommit): the
    * precombine-deduped batch REPLACES the whole table as one new
    * generation + one manifest swing — buckets the batch does not hit
    * leave the manifest, so the live state is exactly the batch.
    * Previous generations' files are untouched: concurrent readers
    * keep their snapshot and [[clean]] reclaims them later. Cost is
    * O(batch) written, zero old data read — the difference from a
    * DELETE-then-INSERT, which reads and rewrites survivors.
    */
  def overwriteTable(spark: SparkSession, tablePath: String,
      incoming: DataFrame, validators: Seq[PreCommit.Rule] = Nil): Seq[Int] = {
    val p = props(tablePath)
    val tagged = withBucket(
      HudiLike.precombineLatest(incoming, p.keys, p.precombine, p.tieBreak), p)
      .localCheckpoint()
    require(!tagged.isEmpty,
      s"INSERT OVERWRITE with an empty batch at $tablePath — an empty " +
        "manifest would brick reads; DELETE the rows instead")
    PreCommit.validate(tagged, validators)
    val gen = nextGen(tablePath)
    val written = writeGen(tagged, tablePath, gen)
    writeSchema(tablePath, tagged)
    // a full restate has no row-level diff — the cdc floor ratchets
    // past every cursor (consumers re-sync loudly from a snapshot)
    writeManifest(tablePath, written.map(_ -> gen).toMap, p,
      CdcLog.Action.Destructive)
    // bound secondary indexes are rebuilt from the replacement —
    // proportionate, the verb itself replaced the whole table (create
    // re-binds and records each covered head itself)
    boundSecondaryIndexes(tablePath).foreach { case (secCols, idxPath) =>
      val numBuckets = props(idxPath).numBuckets
      FsUtil.deleteRecursively(Paths.get(idxPath))
      SecondaryIndex.create(spark, tablePath, idxPath, secCols, numBuckets)
    }
    written
  }

  /** One bucket-level optimistic-concurrency attempt: merge `tagged`
    * against the `m0` view of its touched buckets and write the new
    * generation OUTSIDE any lock; inside the short [[FsLock]] critical
    * section, commit only if no other writer has re-pointed a touched
    * bucket since `m0` — Hudi's file-group-level conflict detection.
    * Writers whose batches land in DISJOINT buckets both commit even
    * when they fully overlap in time (the untouched-bucket manifest
    * entries are taken from the in-lock manifest, so neither swing
    * drops the other's); an overlapping-bucket writer gets None, its
    * generation dir removed, the table untouched.
    *
    * Generation ids for OCC writes are nanotime-unique rather than
    * max+1: two in-flight writers must never stage into the same
    * `gen=` dir (the plain sequential path keeps small sequential
    * ids). `clean` must not run concurrently with in-flight writers —
    * it would sweep a staged-but-not-yet-committed generation (same
    * rule as Hudi cleaning vs inflight instants).
    */
  private[graft] def attemptOcc(spark: SparkSession, tablePath: String,
      tagged: DataFrame, touched: Set[Int], p: Props,
      m0: Map[Int, Long]): Option[Seq[Int]] = {
    val existing =
      if (m0.isEmpty) tagged.limit(0)
      else readBuckets(spark, tablePath, touched, m0)
    // pre-probe OUTSIDE the lock: a concurrent writer that re-points
    // one of OUR touched buckets fails the commit below (probe
    // discarded, retry re-probes) — disjoint-bucket writers can't
    // change these keys' rows, so the probe stays valid
    val bound = boundSecondaryIndexes(tablePath)
    val pre = bound.headOption.map(_ => preBatchState(spark, tablePath, tagged, p))
    val merged = HudiLike.upsert(existing, tagged,
      p.keys, p.precombine, p.tieBreak)
    val gen = System.nanoTime()
    val written = writeGen(withBucket(merged.drop(BucketCol), p), tablePath, gen)
    // staged gen files are IMMUTABLE from here: the CDC image the
    // clean-commit arm publishes is derivable now, BEFORE the lock —
    // the critical section must not read data files (the same
    // metadata-only-lock-hold trim as [[BloomTable.attemptOccFrom]];
    // the salvage arm keeps its own in-lock diff, it commits content
    // the staged view cannot predict)
    val cdcRows =
      if (CdcLog.enabled(tablePath)) {
        // batch-key restriction: same argument as [[upsertInto]]'s diff
        val bk = tagged.select(p.keys.map(col): _*) // precombined: unique
        val before = existing.drop(BucketCol)
          .join(bk, p.keys, "leftsemi")
        Some(CdcLog.diff(before,
          readGenBuckets(spark, tablePath, gen, written, before)
            .join(bk, p.keys, "leftsemi"), p.keys)
          .localCheckpoint())
      } else None
    val outcome = FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val m1 = manifest(tablePath)
      val routingNow = props(tablePath)
      val repointed = touched.filter(b => m1.get(b) != m0.get(b))
      if (routingNow.numBuckets != p.numBuckets ||
          routingNow.bucketBy != p.bucketBy)
        // an intervening RESCALE changed the routing our staged gen was
        // hashed by — contents-based salvage would commit rows under
        // dead bucket ids AND writeManifest(p) would revert the
        // routing header; always retry against the fresh table
        Retry
      else if (repointed.isEmpty) {
        // commit with the IN-LOCK header (routingNow, asserted equal on
        // the routing fields above) — never the staged-time p, so an
        // intervening commit's change to any OTHER header field is not
        // silently rolled back by this writer's manifest swing
        writeSchema(tablePath, merged)
        val c = writeManifestLocked(tablePath, m1 ++ written.map(_ -> gen),
          routingNow,
          CdcLog.Action.Changes { () =>
            cdcRows.getOrElse {
              // CDC flipped on between the pre-lock check and here —
              // the one (rare) case that still diffs in-lock
              val before = existing.drop(BucketCol)
              CdcLog.diff(before,
                readGenBuckets(spark, tablePath, gen, written, before),
                p.keys)
            }
          })
        Committed(written, stagedLive = true, c)
      } else salvageOrRetry(spark, tablePath, tagged, routingNow, m1, m0,
        repointed, written, gen)
    }
    outcome match {
      case Committed(buckets, stagedLive, c) =>
        // a salvage that superseded EVERY staged bucket leaves the
        // staged gen as pure debris; a partially-live staged gen keeps
        // its dead bucket dirs until clean, like any superseded gen
        if (!stagedLive) deleteRecursively(Paths.get(tablePath, s"gen=$gen"))
        maintainBound(spark, tablePath, bound, pre,
          lookupMany(spark, tablePath, tagged.drop(BucketCol)), p, c)
        Some(buckets)
      case Retry =>
        deleteRecursively(Paths.get(tablePath, s"gen=$gen"))
        None
    }
  }

  /** Hudi's KEY-RANGE conflict refinement on top of the
    * bucket-granular check (in-lock continuation of [[attemptOcc]]):
    * intervening commits repointed buckets we also touch, but if the
    * KEYS they actually changed are disjoint from our batch's, the two
    * writers did not conflict semantically — salvage by re-merging
    * ONLY the repointed buckets' rows onto the fresh manifest, so both
    * writers commit without a full retry. Overlapping keys are a
    * genuine race (two jobs writing one record): the caller gets
    * `Retry` and re-merges outside the lock as before. The salvage
    * reads/writes just the conflicted buckets — bounded work in a lock
    * MOR compaction already holds for comparable spans. Any failure to
    * even DECIDE (e.g. mid-flight schema drift between the two
    * manifest views) degrades to the conservative full retry.
    */
  private sealed trait OccOutcome
  private case class Committed(buckets: Seq[Int],
      stagedLive: Boolean, commitNo: Long) extends OccOutcome
  private case object Retry extends OccOutcome

  private def salvageOrRetry(spark: SparkSession, tablePath: String,
      tagged: DataFrame, p: Props, m1: Map[Int, Long], m0: Map[Int, Long],
      repointed: Set[Int], written: Seq[Int], gen: Long): OccOutcome =
    scala.util.Try[OccOutcome] {
      // bucket-id membership: a literal In up to the plan-size bound
      // (numBuckets is config, but a 1000-bucket table conflicting
      // broadly would still inflate the plan), broadcast semi-join past
      // it — the same hybrid BloomTable.filesIn uses for file paths
      val ourRows =
        if (repointed.size <= BloomTable.InListMax)
          tagged.filter(col(BucketCol).isInCollection(repointed))
        else {
          import spark.implicits._
          tagged.join(
            broadcast(repointed.toSeq.toDF(BucketCol)), Seq(BucketCol),
            "left_semi")
        }
      val ourKeys = ourRows.select(p.keys.map(col): _*)
      val theirsNow = readBuckets(spark, tablePath, repointed, m1)
        .drop(BucketCol)
      val theirsThen =
        if (m0.isEmpty) theirsNow.limit(0)
        else readBuckets(spark, tablePath,
          repointed.filter(m0.contains), m0).drop(BucketCol)
          .select(theirsNow.columns.map(col): _*)
      val changedKeys = theirsNow.exceptAll(theirsThen)
        .select(p.keys.map(col): _*)
      val overlap = !ourKeys.join(changedKeys, p.keys.toSeq, "left_semi")
        .isEmpty
      if (overlap) Retry
      else {
        val fixGen = System.nanoTime()
        val fixed = HudiLike.upsert(theirsNow, ourRows.drop(BucketCol),
          p.keys, p.precombine, p.tieBreak)
        val fixWritten = writeGen(withBucket(fixed, p), tablePath, fixGen)
        val keepStaged = written.filterNot(repointed)
        val c = writeManifestLocked(tablePath,
          m1 ++ keepStaged.map(_ -> gen) ++ fixWritten.map(_ -> fixGen), p,
          CdcLog.Action.Changes { () =>
            val all = (keepStaged ++ fixWritten).toSet
            val before = readBuckets(spark, tablePath, all, m1).drop(BucketCol)
            val after = readGenBuckets(spark, tablePath, gen, keepStaged, before)
              .unionByName(
                readGenBuckets(spark, tablePath, fixGen, fixWritten, before),
                allowMissingColumns = true)
            CdcLog.diff(before, after, p.keys)
          })
        Committed((keepStaged ++ fixWritten).sorted,
          stagedLive = keepStaged.nonEmpty, c)
      }
    }.getOrElse(Retry)

  /** One OCC attempt from a raw batch against an EXPLICIT manifest
    * snapshot `m0` — the deterministic entry point for exercising the
    * conflict paths without real thread races: a caller holding a
    * stale `m0` is exactly a writer that staged before another writer
    * committed. Returns the committed buckets, or None on a
    * key-overlapping conflict (retry with a fresh manifest).
    */
  private[graft] def attemptOccFrom(spark: SparkSession, tablePath: String,
      incoming: DataFrame, m0: Map[Int, Long]): Option[Seq[Int]] = {
    val p = props(tablePath)
    val (tagged, touched) = checkpointRouted(withBucket(
      HudiLike.precombineLatest(incoming, p.keys, p.precombine, p.tieBreak), p))
    if (touched.isEmpty) Some(Seq.empty)
    else attemptOcc(spark, tablePath, tagged, touched, p, m0)
  }

  /** Multi-writer upsert under optimistic concurrency control: the
    * bucket index makes conflict detection sharp — only writers whose
    * batches hash into a COMMON bucket contend, and the loser re-merges
    * just its own batch against the fresh manifest and tries again.
    * This is the concurrent front door; [[upsertInto]] stays the
    * single-writer fast path (no lock, sequential generations).
    */
  def upsertIntoOcc(spark: SparkSession, tablePath: String,
      incoming: DataFrame, maxRetries: Int = 5): Seq[Int] = {
    val p0 = props(tablePath)
    val deduped = HudiLike.precombineLatest(incoming,
      p0.keys, p0.precombine, p0.tieBreak).localCheckpoint()
    var attempt = 0
    while (attempt <= maxRetries) {
      // routing re-read PER ATTEMPT: an intervening rescale changes the
      // bucket count, and a retry tagged under the old routing would
      // conflict forever (attemptOcc rejects stale-routing commits)
      val p = props(tablePath)
      val tagged = withBucket(deduped, p)
      val touched = tagged.select(BucketCol).distinct()
        .collect().map(_.getInt(0)).toSet
      if (touched.isEmpty) return Seq.empty
      attemptOcc(spark, tablePath, tagged, touched, p, manifest(tablePath)) match {
        case Some(written) => return written
        case None => attempt += 1
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"gave up after $maxRetries OCC retries at $tablePath — " +
        "another writer keeps re-pointing the touched buckets")
  }

  /** The bucket `bucketValues` hashes to — computed with the SAME
    * expression records are routed by, each literal CAST to the table
    * column's type first (xxhash64 is type-sensitive; an as-written
    * literal of the wrong width would silently probe the wrong
    * bucket). `bucketValues` must cover `props.bucketBy` in order
    * (= `props.keys` unless the table was created with a narrower
    * `bucketBy`).
    */
  def bucketOf(spark: SparkSession, tablePath: String,
      bucketValues: Seq[Any]): Int = {
    val p = props(tablePath)
    require(bucketValues.length == p.bucketBy.length,
      s"expected ${p.bucketBy.length} bucket-key values (${p.bucketBy.mkString(",")})")
    val keyTypes = read(spark, tablePath).schema
    val keyDf = Layout.literalRow(spark,
      p.bucketBy.map(k => k -> keyTypes(k).dataType), bucketValues)
    withBucket(keyDf, p).select(col(BucketCol)).head().getInt(0)
  }

  /** Point lookup by full key: hash the key values to their bucket and
    * read ONLY that bucket's current generation directory — the bucket
    * index's serving win (Hudi routes record-key lookups the same way).
    * At any table size the scan is one bucket, ~1/numBuckets of the
    * data; `BucketTableSpec` asserts the plan's input files all come
    * from the computed bucket. `keyValues` must cover `props.keys` in
    * order.
    */
  def lookup(spark: SparkSession, tablePath: String,
      keyValues: Seq[Any]): DataFrame = {
    val p = props(tablePath)
    val bucket = bucketOf(spark, tablePath, keyValues.take(p.bucketBy.length))
    val filtered = readBuckets(spark, tablePath, Set(bucket))
      .drop(BucketCol)
    // with a narrowed bucketBy the caller may pass just the bucket-key
    // prefix (all entries for that prefix) or the full key
    val cols = if (keyValues.length == p.bucketBy.length) p.bucketBy else p.keys
    require(keyValues.length == cols.length,
      s"expected values for ${p.bucketBy.mkString(",")} or ${p.keys.mkString(",")}")
    cols.zip(keyValues).foldLeft(filtered) { case (df, (k, v)) =>
      // null-safe: a NULL bucket value (xxhash64 hashes nulls to a
      // deterministic bucket, so NULL entries are routable) must match
      // with IS NULL, never the always-false `=== NULL`
      df.filter(if (v == null) col(k).isNull else col(k) === lit(v))
    }
  }

  /** Multi-key point lookup: route every requested key to its bucket
    * in ONE job, read only those buckets, and semi-join back to the
    * requested keys. `keyRows` must carry the key columns at the
    * table's own types (xxhash64 is type-sensitive) — callers that
    * derived the keys from a read of this table or its index satisfy
    * that by construction. Scan cost is |distinct buckets touched|,
    * never the table ([[SecondaryIndex.lookup]]'s second hop).
    */
  def lookupMany(spark: SparkSession, tablePath: String,
      keyRows: DataFrame): DataFrame = {
    val p = props(tablePath)
    // bucket tagged BEFORE the checkpoint so the routing set rides the
    // checkpoint job (was: a second distinct+collect action)
    val (wantedB, buckets) = MaintProf.timed("bucket.lm.wantedCkpt")(
      checkpointRouted(
        withBucket(keyRows.select(p.keys.map(col): _*).distinct(), p)))
    val wanted = wantedB.drop(BucketCol)
    if (buckets.isEmpty) read(spark, tablePath).limit(0)
    else readBuckets(spark, tablePath, buckets).drop(BucketCol)
      .join(broadcast(wanted), p.keys, "leftsemi")
  }

  /** Multi-combination point lookup over the bucketBy prefix: all
    * combinations probe in ONE plan — the probe values become a local
    * frame (checkpointed once), route to their buckets in one tiny
    * job, the touched buckets read as ONE scan, and a null-safe
    * filter keeps exactly the probed combinations' rows. The
    * `IN (a, b, …)` serving shape: N combos cost one scan of their
    * distinct buckets, not N unioned plan branches each with its own
    * file listing ([[SecondaryIndex]]'s multi routes and the SQL RLI
    * read serve through this).
    */
  def lookupCombos(spark: SparkSession, tablePath: String,
      combos: Seq[Seq[Any]]): DataFrame = {
    val p = props(tablePath)
    require(combos.nonEmpty && combos.forall(_.length == p.bucketBy.length),
      s"each combination must cover ${p.bucketBy.mkString(",")}")
    val schema = read(spark, tablePath).schema
    val probe0 = combos.map(Layout.literalRow(spark,
      p.bucketBy.map(c => c -> schema(c).dataType), _)).reduce(_.unionByName(_))
    val (_, buckets) = checkpointRouted(withBucket(probe0, p))
    // the combinations are driver literals already: a null-safe filter
    // keeps exactly their rows without a broadcast job
    val cond = combos.map { vs =>
      p.bucketBy.zip(vs).map { case (c, v) =>
        col(c) <=> lit(v).cast(schema(c).dataType)
      }.reduce(_ && _)
    }.reduce(_ || _)
    readBuckets(spark, tablePath, buckets).drop(BucketCol).filter(cond)
  }

  /** Rewrite ONLY `touched` buckets: read their current rows, apply
    * `transform` (which sees just those buckets' rows, bucket column
    * dropped), re-bucket the result, and write it as a fresh
    * generation in one partitioned job. A bucket `transform` emptied
    * entirely is dropped from the manifest (no dir written = no
    * entry). The shared core under every targeted DML — delete /
    * update / conditional merge all cost O(touched fraction of table),
    * never O(table). Caller holds the table lock.
    */
  /** `changeKeys`: when the caller can PROVE the transform only
    * changes rows of these keys (a keyed DELETE — never the generic
    * MERGE/UPDATE routes, whose transforms may touch any region row),
    * the cdc diff and the index reconcile restrict both sides to them:
    * O(changed keys) aggregation instead of O(region) (guide §2.3).
    */
  private def rewriteTouchedLocked(spark: SparkSession, tablePath: String,
      touched: Set[Int], p: Props, changeKeys: Option[DataFrame] = None)(
      transform: DataFrame => DataFrame): Seq[Int] = {
    if (touched.isEmpty) return Seq.empty
    val committed = manifest(tablePath)
    // a touched bucket with no manifest entry is currently EMPTY — the
    // transform may still WRITE into it (a MERGE inserting keys that
    // hash there), it just has nothing to read; a fully EMPTIED table
    // (all rows deleted) reads as the recorded-schema zero-row frame
    val liveTouched = touched.intersect(committed.keySet)
    val gen = nextGen(tablePath)
    val bound = boundSecondaryIndexes(tablePath)
    val current0 =
      if (committed.isEmpty) emptySnapshot(spark, tablePath)
      else if (liveTouched.isEmpty) read(spark, tablePath).limit(0)
      else readBuckets(spark, tablePath, liveTouched).drop(BucketCol)
    // pinned pre-image when an index is bound: the touched buckets'
    // rows as they were — a superset of what changed; except() in the
    // reconcile drops the unchanged mappings
    val current = if (bound.isEmpty) current0 else current0.localCheckpoint()
    // localCheckpoint decouples the result from the files about to be
    // superseded, same discipline as every other rewrite path
    val next = transform(current).localCheckpoint()
    val written = writeGen(withBucket(next, p), tablePath, gen)
    // the transform must not re-route rows out of the touched region
    // (assignments to key columns are rejected upstream): a row landing
    // in an untouched bucket would duplicate its key there
    require(written.toSet.subsetOf(touched),
      s"targeted rewrite produced rows outside its touched buckets " +
        s"(${written.toSet -- touched}) — transform changed key columns?")
    // emptied buckets leave the manifest
    writeSchema(tablePath, next)
    val c = writeManifestLocked(tablePath,
      (committed -- (liveTouched -- written.toSet)) ++ written.map(_ -> gen), p,
      // before = the touched buckets' pre-rewrite content (their dirs
      // are immutable until clean); after = the just-written files — a
      // bucket the transform emptied simply has no after rows, so its
      // victims diff to `d`
      CdcLog.Action.Changes { () =>
        val before = changeKeys.fold(current)(ks =>
          current.join(broadcast(ks), p.keys, "leftsemi"))
        val after0 = readGenBuckets(spark, tablePath, gen, written, current)
        CdcLog.diff(before, changeKeys.fold(after0)(ks =>
          after0.join(broadcast(ks), p.keys, "leftsemi")), p.keys)
      })
    maintainBound(spark, tablePath, bound,
      Some(changeKeys.fold(current)(ks =>
        current.join(broadcast(ks), p.keys, "leftsemi"))),
      changeKeys.fold(next)(ks =>
        next.join(broadcast(ks), p.keys, "leftsemi")), p, c)
    written
  }

  /** Row-level delete by key (the route Hudi's `delete` operation
    * takes on a bucket-indexed table): hash the keys to
    * their buckets, rewrite ONLY those buckets minus the deleted keys.
    * Keys absent from the table cost only their bucket's rewrite
    * membership check. Returns the bucket ids rewritten.
    */
  def deleteFrom(spark: SparkSession, tablePath: String,
      keysToDelete: DataFrame): Seq[Int] =
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val p = props(tablePath)
      // routing and the emptiness gate both ride the key frame's
      // checkpoint (empty set = empty frame) — was three jobs, now one
      val (keyRelB, touched) = checkpointRouted(withBucket(
        keysToDelete.select(p.keys.map(col): _*).distinct(), p))
      val keyRel = keyRelB.drop(BucketCol)
      if (touched.isEmpty) Seq.empty
      else rewriteTouchedLocked(spark, tablePath, touched, p,
        changeKeys = Some(keyRel))(
        _.join(broadcast(keyRel), p.keys, "left_anti"))
    }

  /** Targeted rewrite of the rows a predicate selects: ONE scan of the
    * predicate columns finds the buckets holding matching rows, then
    * only those buckets are rewritten through `transform` (the SQL
    * UPDATE/DELETE route for bucket-layout tables). The discovery scan
    * is column-pruned and read-only; the rewrite — the expensive half —
    * stays O(touched). `transform` must preserve each row's key
    * columns (re-routing would split keys across buckets). Returns the
    * bucket ids rewritten.
    */
  def rewriteWhere(spark: SparkSession, tablePath: String,
      pred: org.apache.spark.sql.Column)(
      transform: DataFrame => DataFrame): Seq[Int] =
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val p = props(tablePath)
      val m = manifest(tablePath)
      if (m.isEmpty) Seq.empty
      else {
        val touched = readBuckets(spark, tablePath, m.keySet)
          .filter(pred).select(BucketCol)
          .distinct().collect().map(_.getInt(0)).toSet
        rewriteTouchedLocked(spark, tablePath, touched, p)(transform)
      }
    }

  /** Rewrite the buckets `keyRows`' keys hash into through `transform`
    * — the conditional-MERGE route: the transform sees the touched
    * buckets' full current rows (matched and unmatched alike) and
    * returns their replacement. Returns the bucket ids rewritten.
    */
  def rewriteKeys(spark: SparkSession, tablePath: String,
      keyRows: DataFrame)(transform: DataFrame => DataFrame): Seq[Int] =
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val p = props(tablePath)
      val (_, touched) = checkpointRouted(withBucket(
        keyRows.select(p.keys.map(col): _*).distinct(), p))
      rewriteTouchedLocked(spark, tablePath, touched, p)(transform)
    }

  /** Rewrite every live bucket at one fresh generation and point the
    * whole manifest at it. Each upsert leaves its touched buckets at a
    * new generation, so a long-lived table's manifest fans out over
    * many `gen=` dirs and every read unions one parquet relation per
    * distinct live generation — compaction collapses that planning
    * fan-in back to a single relation (the same read-amplification
    * reasoning as `MorTable.compact`, applied to generation spread
    * instead of log depth). Data is unchanged; `clean` afterwards
    * reclaims the superseded dirs. Returns the new generation.
    */
  def compact(spark: SparkSession, tablePath: String): Long = {
    val m = manifest(tablePath)
    if (m.isEmpty) {
      // an emptied table has nothing to collapse — no-op, no commit
      require(exists(tablePath), s"no bucket table at $tablePath")
      return -1L
    }
    val gen = nextGen(tablePath)
    val written = writeGen(
      readBuckets(spark, tablePath, m.keySet), tablePath, gen)
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val m1 = manifest(tablePath)
      // the restate ran outside the lock: an OCC writer's re-points
      // inside our read set would silently revert to the stale content
      // we read — refuse toward a retry; buckets it committed outside
      // the read set merge through untouched
      val repointed = m.keySet.filter(b => m1.get(b) != m.get(b))
      if (repointed.nonEmpty) {
        // the freshly written gen is pure debris on a conflict — remove
        // it here rather than leave a full-table rewrite for clean
        // (the OCC route's own discipline)
        deleteRecursively(Paths.get(tablePath, s"gen=$gen"))
        throw new java.util.ConcurrentModificationException(
          s"compaction at $tablePath raced a writer on buckets " +
            s"${repointed.toSeq.sorted.take(8).mkString(",")} — retry")
      }
      val c = writeManifestLocked(tablePath,
        (m1 -- m.keySet) ++ written.map(_ -> gen).toMap, props(tablePath),
        CdcLog.Action.Preserving)
      // content-preserving commit: mappings unchanged, head advances
      boundSecondaryIndexes(tablePath).foreach { case (_, idxPath) =>
        SecondaryIndex.markCovered(idxPath, c)
      }
    }
    gen
  }

  /** The CURRENT data files, manifest-resolved: each live bucket's
    * parquet files at its committed generation — the file list a
    * [[StatsIndex]] over the table must index. Superseded generations
    * still on disk (pre-[[clean]]) are excluded.
    */
  def liveFiles(tablePath: String): Seq[String] =
    manifest(tablePath).toSeq.flatMap { case (b, g) =>
      val dir = Paths.get(tablePath, s"gen=$g", s"$BucketCol=$b")
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(_.toAbsolutePath.toString).toSeq
      finally s.close()
    }.sorted

  /** Sort-clustering replacecommit (Hudi's clustering service on a
    * bucket table): rewrite every bucket's rows ordered by `sortCols`,
    * splitting oversized buckets into RANGE-DISJOINT files, with
    * routing untouched (same bucket count, same hash — a record's
    * bucket never moves, so point reads and upserts are unaffected).
    * What changes is within-bucket file layout: each file now covers a
    * tight `sortCols` range, so a column-stats index over the table
    * ([[StatsIndex]]) prunes range predicates to a few files instead
    * of every file a scattered write left behind — at 100 TB the
    * difference between opening a handful of footers and all of them.
    * Old generations stay on disk immutable until [[clean]]; the
    * commit is one atomic manifest swing. Returns the new generation.
    */
  def cluster(spark: SparkSession, tablePath: String, sortCols: Seq[String],
      targetFileRows: Long): Long =
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val p = props(tablePath)
      val m = manifest(tablePath)
      require(m.nonEmpty, s"no bucket table at $tablePath")
      require(sortCols.nonEmpty, "at least one clustering sort column")
      val gen = nextGen(tablePath)
      rollbackOrphan(tablePath, gen)
      val dir = Paths.get(tablePath, s"gen=$gen")
      val data = readBuckets(spark, tablePath, m.keySet)
      val rows = data.count()
      // at least one range partition per bucket (partitionBy still
      // splits by bucket dir); more when buckets exceed the file target
      val numParts = math.max(p.numBuckets.toLong,
        (rows + targetFileRows - 1) / targetFileRows).toInt
      val layout = (BucketCol +: sortCols).map(col)
      // bucket leads the range layout: each task holds one bucket's
      // contiguous sort range → range-disjoint files per bucket dir
      UnitSchema.write(data.repartitionByRange(numParts, layout: _*)
        .sortWithinPartitions(layout: _*), dir.toString,
        partitionBy = Seq(BucketCol))
      val written = listWrittenBuckets(dir)
      val c = writeManifestLocked(tablePath, written.map(_ -> gen).toMap, p,
        CdcLog.Action.Preserving)
      boundSecondaryIndexes(tablePath).foreach { case (_, idxPath) =>
        SecondaryIndex.markCovered(idxPath, c)
      }
      gen
    }

  /** Grow the bucket count by an integer `factor` — the bucket index's
    * classic operational fix (Hudi's bucket-rescale clustering): a
    * fixed bucket count sized for last year's volume eventually leaves
    * every bucket oversized, and rehashing to an UNRELATED count would
    * shuffle the whole table. An integer multiple doesn't:
    * `h mod (f·n) ≡ h mod n (mod n)`, so each old bucket `b` splits
    * into exactly the new buckets `{b, b+n, …, b+(f−1)n}` — every new
    * bucket receives rows from ONE old bucket, and the rewrite is a
    * map-side split (no shuffle; [[writeGen]]'s clustering repartition
    * is deliberately skipped). Files per new bucket = read tasks that
    * held its parent bucket: one while bucket files fit a split
    * (`maxPartitionBytes`); an oversized parent contributes one file
    * per extra split — bounded small-file drift that the next
    * [[compact]] re-levels, the same trade Hudi's clustering-based
    * resize makes.
    *
    * Commit is ONE atomic manifest swing carrying both the new bucket
    * map and the new routing (the manifest's `props` header) — a crash
    * mid-rescale leaves the old routing + old map fully intact on
    * disk, never numBuckets from one generation durably pointing at
    * the map of another (the versioned-commit fix Hudi's atomic
    * timeline uses). A concurrent reader that resolved routing just
    * before the swing may transiently probe the old bucket id — the
    * benign read-skew any non-snapshot reader has across commits.
    * Returns the new generation.
    */
  def rescale(spark: SparkSession, tablePath: String, factor: Int): Long =
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      require(factor >= 2, s"rescale factor must be >= 2, got $factor")
      val p = props(tablePath)
      val m = manifest(tablePath)
      require(m.nonEmpty, s"no bucket table at $tablePath")
      val np = p.copy(numBuckets = p.numBuckets * factor)
      val gen = nextGen(tablePath)
      rollbackOrphan(tablePath, gen)
      val dir = Paths.get(tablePath, s"gen=$gen")
      UnitSchema.write(readBuckets(spark, tablePath, m.keySet).drop(BucketCol)
        .withColumn(BucketCol,
          pmod(xxhash64(np.bucketBy.map(col): _*), lit(np.numBuckets)).cast("int")),
        dir.toString, partitionBy = Seq(BucketCol))
      val written = listWrittenBuckets(dir)
      // ONE atomic commit carries both the new routing (manifest props
      // header) and the new bucket map — a crash can never durably
      // leave numBuckets pointing at the old generation's layout.
      // The `_props` mirror follows; losing it to a crash is harmless
      // (props() prefers the manifest header).
      val c = writeManifestLocked(tablePath, written.map(_ -> gen).toMap, np,
        CdcLog.Action.Preserving)
      writeProps(tablePath, np)
      boundSecondaryIndexes(tablePath).foreach { case (_, idxPath) =>
        SecondaryIndex.markCovered(idxPath, c)
      }
      gen
    }

  // ---- savepoints (the pin file family is TableLayout's) -------------

  /** A bucket savepoint pins a copy of the manifest, with the ROUTING
    * config: a later [[rescale]] rewrites numBuckets, and restoring
    * just the old manifest under the new bucket count would route
    * lookups/upserts to buckets the pinned state never had (empty
    * lookups, split keys).
    */
  protected def savepointBody(tablePath: String): String = {
    val m = manifest(tablePath)
    require(m.nonEmpty, s"no committed state to savepoint at $tablePath")
    val pr = props(tablePath)
    (s"props numBuckets=${pr.numBuckets} bucketBy=${pr.bucketBy.mkString(",")}" +:
      m.toSeq.sorted.map { case (b, g) => s"$b $g" }).mkString("\n")
  }

  /** Generations referenced by any savepoint — writers must never
    * reuse these ids: after [[restoreSavepoint]] the live manifest's
    * max reverts, and a naive max+1 would collide with (and
    * [[rollbackOrphan]] would destroy) a generation a LATER savepoint
    * still pins.
    */
  private def pinnedGens(tablePath: String): Set[Long] =
    savepoints(tablePath).flatMap(savepointManifest(tablePath, _).values).toSet

  /** Next generation id: past everything live AND pinned. */
  private def nextGen(tablePath: String): Long =
    ((manifest(tablePath).values ++ pinnedGens(tablePath)) ++ Seq(-1L)).max + 1

  private def savepointManifest(tablePath: String, name: String): Map[Int, Long] =
    savepointLines(tablePath, name).filterNot(_.startsWith("props ")).map { l =>
      val Array(b, g) = l.split(' '); b.toInt -> g.toLong
    }.toMap

  /** (numBuckets, bucketBy) pinned by the savepoint; None for
    * savepoints written before routing was pinned (pre-rescale format —
    * valid only while the table was never rescaled).
    */
  private def savepointRouting(tablePath: String,
      name: String): Option[(Int, Seq[String])] =
    savepointLines(tablePath, name).find(_.startsWith("props ")).map { l =>
      val kv = l.drop(6).split(' ').map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v }.toMap
      (kv("numBuckets").toInt,
        kv.getOrElse("bucketBy", "").split(',').toSeq.filter(_.nonEmpty))
    }

  def readSavepoint(spark: SparkSession, tablePath: String,
      name: String): DataFrame = {
    val m = savepointManifest(tablePath, name)
    readBuckets(spark, tablePath, m.keySet, m).drop(BucketCol)
  }

  /** Atomically swing the live manifest to the pinned one, under the
    * table lock so a concurrent OCC writer can't interleave its own
    * manifest swing with the restore. Generations committed after the
    * savepoint become unreferenced debris for [[clean]].
    */
  def restoreSavepoint(spark: SparkSession, tablePath: String,
      name: String): Unit = {
    // a restore rewrites table state with no per-row diff to reconcile
    // the index by — refuse loudly rather than leave the index diverged
    // from restored state (the PartitionedTable.restoreSavepoint
    // contract)
    require(boundSecondaryIndexes(tablePath).isEmpty,
      s"restore at $tablePath with a bound secondary index would leave " +
        "the index diverged — DROP INDEX first, restore, then re-create")
    val m = savepointManifest(tablePath, name)
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      // the restored manifest carries the savepoint's ROUTING in its
      // props header (a rescale after the savepoint changed numBuckets;
      // the pinned manifest only makes sense under the pinned bucket
      // count) — one atomic swing restores both together
      val cur = props(tablePath)
      val restored = savepointRouting(tablePath, name) match {
        case Some((n, by)) => cur.copy(numBuckets = n,
          bucketBy = if (by.isEmpty) cur.bucketBy else by)
        case None => cur
      }
      writeManifestLocked(tablePath, m, restored, CdcLog.Action.Destructive)
      writeProps(tablePath, restored)
    }
    ()
  }

  def changeCounts(tablePath: String): (Long, Long, Long) =
    (0L, latestCommit(tablePath), 0L)

  /** Drop generation dirs no manifest entry references (aborted writers,
    * superseded buckets). Generations referenced by a [[savepoint]]
    * count as live, and `keepVersions > 0` additionally retains every
    * generation the newest `keepVersions` commits' snapshots reference
    * (Hudi's KEEP_LATEST_COMMITS cleaner policy) — `VERSION AS OF` is
    * then GUARANTEED within the retention window, loud outside it.
    * Loud when retention is requested on a table whose commit log
    * cannot reconstruct those snapshots (pre-upgrade history).
    * Returns removed dir names.
    */
  def clean(tablePath: String, keepVersions: Int): Seq[String] = {
    def listDir(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq finally s.close()
    }
    val head = latestCommit(tablePath)
    val retained =
      if (keepVersions <= 0) Seq.empty
      else {
        require(head >= 1,
          s"clean($tablePath, keepVersions=$keepVersions): no commit " +
            "log (table predates commit logging) — retention needs " +
            "logged history")
        (math.max(1L, head - keepVersions + 1) to head)
          .flatMap(c => manifestAsOf(tablePath, c).toSeq)
      }
    val pinned = savepoints(tablePath)
      .map(savepointManifest(tablePath, _))
      .foldLeft(manifest(tablePath).toSeq ++ retained)(_ ++ _.toSeq)
    val live: Map[Long, Set[Int]] = pinned
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    listDir(Paths.get(tablePath))
      .filter(_.getFileName.toString.startsWith("gen="))
      .flatMap { genDir =>
        val gen = genDir.getFileName.toString.drop(4).toLong
        val liveB = live.getOrElse(gen, Set.empty)
        val deadBuckets = listDir(genDir).filter { bd =>
          val n = bd.getFileName.toString
          n.startsWith(s"$BucketCol=") &&
            !liveB(n.drop(BucketCol.length + 1).toInt)
        }
        deadBuckets.foreach(deleteRecursively)
        val gone = deadBuckets.map(bd => s"gen=$gen/${bd.getFileName}")
        if (liveB.isEmpty && listDir(genDir)
            .forall(!_.getFileName.toString.startsWith(s"$BucketCol="))) {
          deleteRecursively(genDir)
          gone :+ s"gen=$gen"
        } else gone
      }
  }
}
