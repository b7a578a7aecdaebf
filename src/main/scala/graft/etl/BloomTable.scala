package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{CreateStruct, In, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Copy-on-write with a BLOOM file index — the other half of Hudi's
  * indexing story next to [[BucketTable]]'s BUCKET index (reference:
  * Hudi's default `hoodie.index.type=BLOOM`, which tags each incoming
  * record to the file groups that may already hold its key using the
  * per-file key range + bloom filter Hudi stores in parquet footers;
  * the reference pipeline exercises it implicitly through every
  * `hoodie.datasource.write.operation=upsert`,
  * pipeline_architecture.py:243-251).
  *
  * Where the bucket index prescribes file placement (`hash(key) % n`),
  * the bloom index lets data lie where ingest put it — here key-range
  * clustered — and answers the write-side question "which files might
  * contain these keys?" from an O(files) sidecar:
  *
  *   - key-range check: file's [key_min, key_max] must overlap the key
  *   - bloom check: all K Kirsch–Mitzenmacher bits of the key must be
  *     set in the file's bitmap (definitely-absent ⇒ skip the file,
  *     even when the range overlaps — the sparse-key win)
  *
  * An upsert rewrites ONLY the files some incoming key may live in;
  * a batch of brand-new keys that no file can contain is a pure
  * append — no existing file read OR written. That is what makes CoW
  * upserts affordable when batches have key locality but the table is
  * not hash-laid-out.
  *
  * Layout under `tablePath/`:
  *   - `c=N/`       data files written by commit N (immutable)
  *   - `_manifest`  one live data-file path per line (relative),
  *                  atomically replaced — the commit point
  *   - `_index/v=M/` one row per live file: key_min/key_max of the
  *                  leading key column, bloom bitmap, row_count
  *   - `_index/_latest` pointer, swapped after the manifest: the index
  *                  is an acceleration structure, so it trails the
  *                  manifest and [[indexSnapshot]] self-heals any gap
  *                  (files in the manifest but not the index get
  *                  scanned on the next upsert — never wrong results,
  *                  only lost pruning, same contract as
  *                  [[StatsIndex]])
  *   - `_props`     keys / precombine / tieBreak / mBits / numFiles
  *
  * Scale: the index is O(files) tiny rows, read to the driver once per
  * statement; candidate tagging runs over the BATCH inside its own
  * checkpoint job (each row: one range compare + K bit tests per file
  * — at very large file counts, pre-partition the probe by key-range
  * interval the way Hudi's bloom-index partitioner does). The merge
  * reads only matched files; the index update scans only freshly
  * written files.
  */
object BloomTable extends TableLayout {

  val kind = "bloom"

  private def manifestPath(t: String): Path = Paths.get(t, "_manifest")
  private def propsPath(t: String): Path = Paths.get(t, "_props")
  private def schemaPath(t: String): Path = Paths.get(t, "_schema")

  /** Persist the committed snapshot schema: the shape a read must
    * still serve once a delete has emptied the manifest — an emptied
    * table is a legitimate state, not a missing one (same contract as
    * `BucketTable`'s `_schema`; Hudi records schema in commit
    * metadata). Refreshed on every schema-bearing commit.
    */
  private def writeSchema(tablePath: String, df: DataFrame): Unit = {
    val tmp = Paths.get(tablePath, s"_schema.tmp${System.nanoTime()}")
    Files.writeString(tmp, df.schema.toDDL,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, schemaPath(tablePath), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Zero-row snapshot of an emptied table at the recorded schema —
    * loud when no commit ever recorded one (pre-upgrade tables).
    */
  private def emptySnapshot(spark: SparkSession, tablePath: String): DataFrame = {
    val sp = schemaPath(tablePath)
    require(Files.exists(sp),
      s"bloom table at $tablePath has no committed data and no recorded " +
        "schema (last written before schema recording); upsert a " +
        "non-empty batch first")
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(Files.readString(sp)))
  }
  private def indexLatest(t: String): Path = Paths.get(t, "_index", "_latest")

  final case class Props(keys: Seq[String], precombine: String,
      tieBreak: Seq[String], mBits: Int, numFiles: Int)

  def exists(tablePath: String): Boolean = Files.exists(manifestPath(tablePath))

  /** Multi-writer safety: mutators hold [[FsLock]]'s exclusive-create
    * lock file for the duration of tag→write→swap; a second writer
    * fails loudly with `ConcurrentModificationException` instead of
    * silently dropping the first writer's files (lost commits).
    */
  private def withTableLock[T](tablePath: String)(body: => T): T =
    FsLock.withTableLock(tablePath)(body)

  def props(tablePath: String): Props = {
    val m = Files.readAllLines(propsPath(tablePath)).asScala
      .map(_.split('=')).collect { case Array(k, v) => k -> v }.toMap
    Props(m("keys").split(',').toSeq.filter(_.nonEmpty), m("precombine"),
      m.getOrElse("tieBreak", "").split(',').toSeq.filter(_.nonEmpty),
      m("mBits").toInt, m("numFiles").toInt)
  }

  /** Existence of a manifest entry on disk — external (bootstrap)
    * entries are absolute and must not be joined under the table dir
    * (Paths.get concatenates; only Path.resolve passes absolutes
    * through).
    */
  private def entryExists(tablePath: String, rel: String): Boolean =
    Files.exists(Paths.get(tablePath).resolve(rel))

  /** Live data files (relative paths), in manifest order. */
  def manifest(tablePath: String): Seq[String] = {
    val p = manifestPath(tablePath)
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p).asScala.filter(_.nonEmpty).toSeq
  }

  private def commitsPath(t: String): Path = Paths.get(t, "_commits")

  /** Append-only commit log: one line `no kind` per manifest swing.
    * `kind` classifies what the commit could have done to EXISTING
    * rows — `write` (pure upsert/append: adds files, removes only
    * files it rewrote with every surviving row), `delete` / `rewrite`
    * / `overwrite` (may remove rows without a replacement file), and
    * `cluster` (full content-preserving rewrite). [[changedSince]]
    * serves a file-ADD feed, which cannot express a deletion — so a
    * destructive kind inside the pull window fails loudly toward a
    * snapshot re-sync instead of silently leaving the consumer with
    * rows the table no longer has.
    */
  private def parseCommitLine(l: String): Option[(Long, String)] =
    l.split(' ') match {
      case Array(no, kind, _*) if no.nonEmpty && no.forall(_.isDigit) =>
        Some((no.toLong, kind))
      case _ => None // torn trailing line from a crashed append
    }

  /** The ACTIVE commit log (bounded once [[archiveCommits]] runs). */
  def commitLog(tablePath: String): Seq[(Long, String)] = {
    val p = commitsPath(tablePath)
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p).asScala.toSeq.flatMap(parseCommitLine)
  }

  /** Archived + active history — the old-cursor cold path. */
  def fullCommitLog(tablePath: String): Seq[(Long, String)] =
    CommitLogFile.fullLines(tablePath).flatMap(parseCommitLine)

  /** The commit log WITH file-delta info: commit → (kind,
    * Some((removed, added)) relative files) — `None` for lines written
    * before deltas were recorded (pre-upgrade tables), which
    * [[manifestAsOf]] refuses rather than reconstruct a wrong
    * snapshot. Reads the FULL history (historical reads are the cold
    * path archival exists for). A no-change commit logs `.` so it
    * stays distinguishable from a legacy two-token line.
    */
  def commitLogFull(tablePath: String)
      : Seq[(Long, String, Option[(Seq[String], Seq[String])])] =
    CommitLogFile.fullLines(tablePath).flatMap { l =>
      l.split(' ') match {
        // a VALID delta-bearing line ends with its ts= token — a torn
        // append truncated mid-delta (possibly at a comma boundary,
        // where the remainder would parse as a smaller-but-wrong diff)
        // loses it, so torn lines classify as TORN (excluded; the head
        // validation below catches the fold gap loudly), never as a
        // legitimate smaller commit and never as pre-upgrade legacy
        case Array(no, kind, delta, ts)
            if no.nonEmpty && no.forall(_.isDigit) && ts.startsWith("ts=") =>
          val d =
            if (delta == ".") Some((Seq.empty[String], Seq.empty[String]))
            else {
              val es = delta.split(',').filter(_.nonEmpty).toSeq
              Some((es.filter(_.startsWith("-")).map(_.drop(1)),
                es.filter(_.startsWith("+")).map(_.drop(1))))
            }
          Some((no.toLong, kind, d))
        case Array(no, kind) if no.nonEmpty && no.forall(_.isDigit) =>
          Some((no.toLong, kind, None)) // legacy two-token: deltas unknown
        case _ => None // torn append
      }
    }

  def resolveAsOf(tablePath: String, tsMs: Long): Long =
    CommitLogFile.resolveAsOf(tablePath, tsMs)

  def showCommits(spark: SparkSession, tablePath: String): DataFrame =
    commitFrame(spark, CommitLogFile.entries(tablePath).map {
      case (no, kind, ts) => (no, kind, ts.getOrElse(-1L)) })

  /** The live-file set AS OF `commit`: fold every logged file delta
    * through it. Loud on upgraded tables (log doesn't cover birth),
    * legacy delta-less lines in range, and out-of-range commits —
    * same contract as [[BucketTable.manifestAsOf]].
    */
  def manifestAsOf(tablePath: String, commit: Long): Seq[String] = {
    val full = commitLogFull(tablePath)
    val head = full.map(_._1).maxOption.getOrElse(0L)
    require(commit >= 1 && commit <= head,
      s"VERSION AS OF $commit at $tablePath: commits run 1..$head")
    require(full.map(_._1).minOption.contains(1L),
      s"the commit log at $tablePath does not cover the table's birth " +
        "(created before commit logging) — historical reads need a " +
        "from-birth log")
    val upTo = full.filter(_._1 <= commit)
    val legacy = upTo.collect { case (no, _, None) => no }
    require(legacy.isEmpty,
      s"commit(s) ${legacy.mkString(",")} at $tablePath were logged " +
        "without file-delta info (pre-upgrade writes) — versions at or " +
        "after them are reconstructable, earlier ones are not")
    def fold(entries: Seq[(Long, String, Option[(Seq[String], Seq[String])])])
        : Set[String] =
      entries.sortBy(_._1).foldLeft(Set.empty[String]) {
        // a full restate (overwrite / cluster-compact) REPLACES the
        // file set — folding it as a reset (not a diff) means one
        // maintenance compaction repairs any residue an earlier torn
        // or phantom line left behind
        case (_, (_, kind, Some((_, added))))
            if kind == "overwrite" || kind == "cluster" => added.toSet
        case (fs, (_, _, Some((removed, added)))) => fs -- removed ++ added
        case (fs, _) => fs
      }
    // crash-window guard: the log line is appended BEFORE the manifest
    // swing (the incremental feed needs that order), so a crash in
    // between leaves a PHANTOM line whose diff no swing applied — and
    // a set-diff fold cannot self-heal from it. Detect: the fold at
    // the HEAD must reproduce the live manifest, else every historical
    // read refuses loudly (run a compacting `cluster` commit to reset
    // history) rather than serve a silently wrong snapshot. The log
    // legitimately LEADS the manifest between a live writer's
    // pre-swing append and its swing — both run under the table lock —
    // so a mismatch re-reads ONCE under the lock (draining any
    // in-flight writer) before declaring the history unreliable.
    if (full.forall(_._3.isDefined) &&
        fold(full) != manifest(tablePath).toSet) {
      val consistent =
        try withTableLock(tablePath) {
          val f2 = commitLogFull(tablePath)
          !f2.forall(_._3.isDefined) ||
            fold(f2) == manifest(tablePath).toSet
        } catch {
          case _: java.util.ConcurrentModificationException => false
        }
      require(consistent,
        s"the commit log at $tablePath does not fold to the live " +
          "manifest (a crash-torn or phantom line) — historical reads " +
          "are unreliable until a compaction resets history")
    }
    fold(upTo).toSeq.sorted
  }

  /** Read the table AS OF commit `commit` — `SELECT ... VERSION AS OF`
    * on the bloom layout: the historical file set folded back out of
    * the commit log's deltas, served from the (immutable) per-commit
    * file dirs. Works for any commit whose files [[clean]] hasn't
    * reclaimed; a reclaimed version fails loudly, never serves a
    * partial snapshot.
    */
  def readVersion(spark: SparkSession, tablePath: String,
      commit: Long): DataFrame = {
    val files = manifestAsOf(tablePath, commit)
    val missing = files.filterNot(entryExists(tablePath, _))
    require(missing.isEmpty,
      s"VERSION AS OF $commit at $tablePath: file(s) " +
        s"${missing.mkString(",")} were reclaimed by clean — keep " +
        "historical versions readable by cleaning less aggressively")
    if (files.isEmpty) read(spark, tablePath).limit(0)
    else readFiles(spark, tablePath, files)
  }

  /** The newest commit number — the incremental consumer's checkpoint. */
  def latestCommit(tablePath: String): Long =
    commitLog(tablePath).map(_._1).maxOption.getOrElse(0L)

  /** Appended BEFORE the manifest swing (same reasoning as
    * `BucketTable.writeManifest`: a phantom entry re-serves unchanged
    * content, a missing one hides a commit). When cdc is enabled, the
    * commit's row-level images follow [[CdcLog]]'s two-phase
    * discipline: staged before the log append, published after the
    * swing — a crash in between leaves a commit whose images are
    * missing (served loudly), never images of a commit that didn't
    * happen.
    */
  private def writeManifest(tablePath: String, files: Seq[String],
      commit: Long, kind: String, cdc: CdcLog.Action): Unit = {
    val cdcLive = CdcLog.enabled(tablePath)
    if (cdcLive) cdc match {
      case CdcLog.Action.Changes(rows) => CdcLog.stage(tablePath, commit, rows())
      case CdcLog.Action.Preserving => CdcLog.stageEmpty(tablePath, commit)
      case CdcLog.Action.Destructive => CdcLog.ratchet(tablePath, commit)
    }
    // each commit logs its file DELTAS (`-retired,+added`, `.` when
    // none) — the per-commit repointing record that makes
    // manifestAsOf/readVersion possible, exactly BucketTable's `b:g`
    val oldFiles = manifest(tablePath).toSet
    val newFiles = files.toSet
    val delta = ((oldFiles -- newFiles).toSeq.sorted.map("-" + _) ++
      (newFiles -- oldFiles).toSeq.sorted.map("+" + _)).mkString(",")
    Files.writeString(commitsPath(tablePath),
      s"$commit $kind ${if (delta.isEmpty) "." else delta} " +
        s"ts=${System.currentTimeMillis()}\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    val tmp = Paths.get(tablePath, s"_manifest.tmp${System.nanoTime()}")
    Files.writeString(tmp, files.sorted.mkString("\n"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, manifestPath(tablePath), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    if (cdcLive) CdcLog.publish(tablePath, commit)
  }

  /** Turn on row-level CDC images (see [[CdcLog]]); commits AFTER the
    * current head get images, served by [[changesCdc]]. Unlike
    * [[changedSince]]'s file-add feed — which must refuse row-removing
    * windows — the image feed expresses deletions and update priors
    * exactly on every commit kind.
    */
  override def enableCdc(tablePath: String): Unit =
    CdcLog.enable(tablePath, latestCommit(tablePath))

  /** The row-level CDC feed for `(sinceCommit, head]` — op ∈ {i,u,d},
    * before/after images, `_change_seq` = the commit number.
    */
  override def changesCdc(spark: SparkSession, tablePath: String,
      sinceCommit: Long): DataFrame =
    CdcLog.changes(spark, tablePath, sinceCommit, latestCommit(tablePath))

  /** Hudi-style incremental query on the bloom CoW layout: the rows of
    * every LIVE file written by a commit after `sinceCommit` —
    * O(changes), no diff join. `write` commits compose exactly (a
    * rewritten file's surviving rows re-deliver as upserts, keyed
    * downstream converges); a destructive commit (delete / predicate
    * rewrite / overwrite) in the window raises loudly — see
    * [[commitLog]].
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
    // cursors behind the archival boundary resolve through the archive
    // (bounded hot path, complete cold path) — same move as
    // BucketTable.changedSince
    val activeMin = active.map(_._1).minOption.getOrElse(1L)
    val log =
      if (sinceCommit >= activeMin - 1) active else fullCommitLog(tablePath)
    // lazily-created log on an upgraded table starts past the
    // pre-existing commits (create-is-commit-1 tables have
    // minLogged == 1): cursors below its first entry would silently
    // skip the uncovered files — same guard as BucketTable.changedSince
    val minLogged = log.map(_._1).minOption.getOrElse(1L)
    require(sinceCommit >= minLogged - 1,
      s"incremental cursor $sinceCommit predates the commit log at " +
        s"$tablePath (first logged commit $minLogged — table upgraded " +
        "after creation); re-sync from a snapshot read and checkpoint " +
        "latestCommit")
    val destructive = log.filter(e =>
      e._1 > sinceCommit && Set("delete", "rewrite", "overwrite", "restore")(e._2))
    require(destructive.isEmpty,
      s"incremental window ($sinceCommit, $head] at $tablePath contains " +
        s"row-removing commit(s) ${destructive.map(_._1).mkString(",")} — " +
        "a file-add feed cannot express deletions; re-sync from a " +
        "snapshot read and checkpoint latestCommit")
    val files = manifest(tablePath).filter(f =>
      "^c=(\\d+)/".r.findFirstMatchIn(f).exists(_.group(1).toLong > sinceCommit))
    if (files.isEmpty) read(spark, tablePath).limit(0)
    else readFiles(spark, tablePath, files)
  }

  // ---- key hashing (same Kirsch–Mitzenmacher md5 family as
  // BloomAggregator's other users — TextOps.decontaminateBloom) ----

  /** Composite key collapsed to one string for hashing; the control
    * separator keeps composite keys like ("ab","c") and ("a","bc")
    * from sharing bloom bits.
    */
  private def keyStr(keys: Seq[String]): Column =
    concat_ws("\u0001", keys.map(k => col(k).cast("string")): _*)

  private def withKeyHashes(df: DataFrame, keys: Seq[String]): DataFrame =
    df.withColumn("__ks", keyStr(keys))
      .withColumn("__h1",
        expr("CAST(conv(substr(md5(__ks), 1, 15), 16, 10) AS BIGINT)"))
      .withColumn("__h2",
        expr("CAST(conv(substr(md5(__ks), 17, 14), 16, 10) AS BIGINT)"))

  private def positions(m: Int): String = {
    val k = graft.functions.BloomAggregator.K
    s"transform(sequence(0, ${k - 1}), j -> (__h1 + j * __h2) % $m)"
  }

  /** One index row per data file of `df` (which must carry
    * `_metadata.file_path`-addressable provenance, i.e. be a fresh
    * parquet read of exactly the files to index): leading-key
    * min/max, row count, bloom bitmap of the full composite key.
    * One pass, map-side combined. The pass reads ONLY the key column
    * and file metadata (column pruning).
    */
  private def indexRows(df: DataFrame, p: Props): DataFrame = {
    val bloom = udaf(new graft.functions.BloomAggregator(p.mBits))
    withKeyHashes(df, p.keys)
      .select(regexp_replace(col("_metadata.file_path"), "^file:/+", "/").as("file"),
        col(p.keys.head).as("__k0"),
        explode(expr(positions(p.mBits))).as("pos"))
      .groupBy(col("file"))
      .agg(min(col("__k0")).as("key_min"), max(col("__k0")).as("key_max"),
        (count(lit(1)) / graft.functions.BloomAggregator.K).cast("long")
          .as("row_count"),
        bloom(col("pos")).as("bloom"))
  }

  private def currentIndexVersion(tablePath: String): Long =
    Files.readString(indexLatest(tablePath)).trim.toLong

  private def indexDir(tablePath: String, v: Long): String = s"$tablePath/_index/v=$v"

  /** The rows of one index version on the driver. `id` names the
    * version and its data files — Spark names every write's files
    * uniquely — so it identifies the version's content.
    */
  private final case class IndexVersion(id: Seq[String], rows: Seq[Row],
      schema: StructType)

  private def indexVersionId(tablePath: String, v: Long): Seq[String] =
    s"v=$v" +: listParquet(Paths.get(indexDir(tablePath, v))).map(_.getFileName.toString)

  /** Per table, the index version this driver last wrote or read, held
    * softly (the collector drops it under memory pressure). A version
    * never changes once written, so a statement on an index this driver
    * already holds reads no index file and runs no Spark job for it.
    */
  private val lastIndex = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.ref.SoftReference[IndexVersion]]

  private def tableKey(tablePath: String): String =
    Paths.get(tablePath).toAbsolutePath.normalize.toString

  private def remember(tablePath: String, iv: IndexVersion): IndexVersion = {
    lastIndex.put(tableKey(tablePath), new java.lang.ref.SoftReference(iv))
    iv
  }

  /** The current index version's rows: the held ones when their id
    * still matches the version on disk, else one read.
    */
  private def currentIndex(spark: SparkSession, tablePath: String): IndexVersion = {
    val v = currentIndexVersion(tablePath)
    val id = indexVersionId(tablePath, v)
    Option(lastIndex.get(tableKey(tablePath))).flatMap(r => Option(r.get))
      .filter(_.id == id)
      .getOrElse {
        val idx = UnitSchema.read(spark, indexDir(tablePath, v))
        remember(tablePath, IndexVersion(id, idx.collect().toSeq, idx.schema))
      }
  }

  /** Next index version that cannot collide with debris: a writer that
    * died after the `v=` dir write but before the pointer swap leaves
    * an orphan version readers never see — number past it rather than
    * fail on `errorifexists`.
    */
  private def nextIndexVersion(tablePath: String): Long = {
    val dir = Paths.get(tablePath, "_index")
    val onDisk =
      if (!Files.exists(dir)) Seq.empty
      else {
        val s = Files.list(dir)
        try s.iterator().asScala.map(_.getFileName.toString)
          .collect { case n if n.startsWith("v=") => n.drop(2).toLong }.toSeq
        finally s.close()
      }
    onDisk.maxOption.getOrElse(-1L) + 1
  }

  private def writeIndex(tablePath: String, rows: DataFrame, v: Long): Unit = {
    Files.createDirectories(Paths.get(tablePath, "_index"))
    // the written rows ride the write job back: the next statement's
    // snapshot (O(files) rows, what it would read anyway)
    val Seq(written) = Fuse.writeObserved(rows.coalesce(1),
      collect_list(struct(rows.columns.map(col): _*)))(
      UnitSchema.write(_, indexDir(tablePath, v)))
    val tmp = Paths.get(tablePath, "_index", s"_latest.tmp${System.nanoTime()}")
    Files.writeString(tmp, v.toString,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, indexLatest(tablePath), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    remember(tablePath, IndexVersion(indexVersionId(tablePath, v),
      written.asInstanceOf[scala.collection.Seq[Row]].toSeq,
      UnitSchema.recorded(indexDir(tablePath, v)).getOrElse(rows.schema)))
    ()
  }

  /** The data files of a unit dir, sorted. */
  private def listParquet(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  private def listCommitFiles(tablePath: String, commit: Long): Seq[String] =
    listParquet(Paths.get(tablePath, s"c=$commit"))
      .map(f => s"c=$commit/${f.getFileName}")

  /** Files of ONE unit — a `c=N` commit dir, or the bootstrap source
    * dir — read with the unit's recorded schema.
    */
  private def readUnitFiles(spark: SparkSession, files: Seq[String]): DataFrame =
    UnitSchema.read(spark, Paths.get(files.head).getParent.toString, files)

  private def absFiles(tablePath: String, rel: Seq[String]): Seq[String] = {
    val base = Paths.get(tablePath).toAbsolutePath.normalize
    rel.map(r => base.resolve(r).toString)
  }

  private def relFile(tablePath: String, abs: String): String = {
    val base = Paths.get(tablePath).toAbsolutePath.normalize.toString
    // files outside the table dir (a metadata-only [[bootstrap]]'s
    // in-place source) keep their absolute identity — Path.resolve
    // passes an absolute operand through, so every read path serves
    // them unchanged
    if (abs.startsWith(base + "/")) abs.stripPrefix(base + "/") else abs
  }

  /** A file-path list as a one-column DataFrame for manifest
    * semi/anti-joins: at 10⁵–10⁶ live files an `isin(paths: _*)`
    * In-list would inflate every plan with that many literal nodes
    * (driver-side analysis/codegen blowup); a broadcast join against a
    * local relation keeps the plan O(1) whatever the manifest size.
    */
  private def fileDf(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    paths.toDF("file")
  }

  /** How the `file ∈ paths` membership test is planned — the In-list
    * bound `FileInListSpec` pins: up to [[InListMax]] paths it stays a
    * literal `isin` (codegen'd filter, no exchange, no broadcast job —
    * the hot trickle-commit path, where a broadcast join costs more
    * than it saves); past that it becomes a broadcast semi/anti-join
    * against the path list as a local relation, keeping the PLAN O(1)
    * at 10⁵–10⁶ live files instead of carrying one literal node each.
    */
  private[etl] val InListMax = 64

  private[etl] def filesIn(spark: SparkSession, df: DataFrame,
      paths: Seq[String], keep: Boolean): DataFrame =
    if (paths.isEmpty) { if (keep) df.limit(0) else df }
    else if (paths.size <= InListMax) {
      val in = col("file").isin(paths: _*)
      df.filter(if (keep) in else !in)
    } else df.join(broadcast(fileDf(spark, paths)), Seq("file"),
      if (keep) "left_semi" else "left_anti")

  /** Write `df` key-range clustered into `files` files under `c=N/`:
    * range partitioning by the leading key keeps per-file [key_min,
    * key_max] tight and non-overlapping, which is what gives the range
    * half of the index its pruning power (the bloom half works under
    * any layout).
    */
  private def writeCommit(df: DataFrame, tablePath: String, commit: Long,
      p: Props, files: Int): Seq[String] = {
    UnitSchema.write(rangeClustered(df, p, files), s"$tablePath/c=$commit")
    listCommitFiles(tablePath, commit)
  }

  private def rangeClustered(df: DataFrame, p: Props, files: Int): DataFrame =
    df.repartitionByRange(math.max(1, files), col(p.keys.head))

  /** Observed with a statement's key rows: up to [[InListMax]] of
    * them (a bounded top-k, so the driver never receives more), which
    * are all of them when the statement has at most that many.
    */
  private def keySample(keys: Seq[String]): Column =
    org.apache.spark.sql.graftbridge.Bridge.collectTopK(
      CreateStruct(keys.map(UnresolvedAttribute.quoted)), InListMax)

  /** The rows of `df` whose key is (`in`) or is not among a statement's
    * `keyN` key rows `keyRel`, of which `sample` is the [[keySample]].
    * When the sample holds them all the test is a literal `IN` (no
    * join, no job); past [[InListMax]] it is a semi/anti join against
    * `keyRel` itself, so the key set never has to reach the driver —
    * the [[filesIn]] policy for key sets. Keys with a NULL part never
    * match, as in an equi-join.
    */
  private def byKeys(df: DataFrame, keys: Seq[String], keyRel: DataFrame,
      keyN: Long, sample: Any, in: Boolean): DataFrame =
    if (keyN > InListMax) df.join(keyRel, keys, if (in) "left_semi" else "left_anti")
    else {
      val keyType = StructType(keys.map(k => keyRel.schema(k)))
      val rows = sample.asInstanceOf[scala.collection.Seq[Row]]
        .filterNot(_.toSeq.contains(null)).distinct
      val test =
        if (rows.isEmpty) lit(false)
        else org.apache.spark.sql.graftbridge.Bridge.column(In(
          CreateStruct(keys.map(UnresolvedAttribute.quoted)),
          rows.map(Literal.create(_, keyType)).toSeq))
      df.filter(if (in) test else !test)
    }

  private def nextCommit(tablePath: String): Long = {
    val live = manifest(tablePath).flatMap(f =>
      "^c=(\\d+)/".r.findFirstMatchIn(f).map(_.group(1).toLong))
    val onDisk = {
      val s = Files.list(Paths.get(tablePath))
      try s.iterator().asScala.map(_.getFileName.toString)
        // strict c=<digits>: the cdc image dirs (cdc=N) share the
        // prefix and must not parse (or clean) as commit dirs
        .collect { case n if n.matches("c=\\d+") => n.drop(2).toLong }.toSeq
      finally s.close()
    }
    // the commit LOG must participate: a pure-retirement delete commits
    // a number with NO c=N dir, and reissuing it to the next write
    // would alias the incremental feed (a cursor at the delete's number
    // would silently skip the write that reused it)
    val logged = commitLog(tablePath).map(_._1)
    (live ++ onDisk ++ logged).maxOption.getOrElse(-1L) + 1
  }

  /** `mBits = AutoSize` at [[create]]: size each file's filter from
    * the measured table cardinality (`BloomAggregator.sizeFor` over
    * the expected per-file key count) instead of the fixture default —
    * the knob a production table MUST set, because a fixed 64 Kibit
    * filter saturates around ~10⁴ keys per file and a saturated bloom
    * degrades tagging to the range check alone (correct, but every
    * range-overlapping file gets read again). Costs one count() of the
    * deduped create batch — commit-planning work, like Hudi's
    * `hoodie.index.bloom.num_entries` auto-tuning.
    */
  val AutoSize: Int = 0

  def create(df: DataFrame, tablePath: String, keys: Seq[String],
      precombine: String, tieBreak: Seq[String] = Nil,
      mBits: Int = graft.functions.BloomAggregator.MBits,
      numFiles: Int = 8): Unit = {
    require(!exists(tablePath), s"table already exists at $tablePath")
    Files.createDirectories(Paths.get(tablePath))
    val deduped0 = HudiLike.precombineLatest(df, keys, precombine, tieBreak)
    // auto-size pays one materialize+count of the create batch; the
    // explicit-mBits path stays a single streaming write
    val (deduped, sizedBits) =
      if (mBits != AutoSize) (deduped0, mBits)
      else {
        val d = deduped0.localCheckpoint()
        (d, graft.functions.BloomAggregator.sizeFor(
          math.max(1L, (d.count() + numFiles - 1) / numFiles)))
      }
    Files.writeString(propsPath(tablePath),
      s"keys=${keys.mkString(",")}\nprecombine=$precombine\n" +
        s"tieBreak=${tieBreak.mkString(",")}\nmBits=$sizedBits\nnumFiles=$numFiles\n",
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    val p = Props(keys, precombine, tieBreak, sizedBits, numFiles)
    // the create is COMMIT 1 (like BucketTable's), so cursor 0 means
    // "before anything" on every layout: incremental_read('t', 0)
    // bootstraps the full table instead of silently skipping the
    // create's files
    val written = writeCommit(deduped, tablePath, 1L, p, numFiles)
    val spark = df.sparkSession
    writeSchema(tablePath, deduped)
    writeManifest(tablePath, written, 1L, "write",
      CdcLog.Action.Changes { () =>
        val content = readFiles(spark, tablePath, written)
        CdcLog.diff(content.limit(0), content, keys)
      })
    writeIndex(tablePath,
      indexRows(readUnitFiles(spark, absFiles(tablePath, written)), p), 0L)
  }

  /** Hudi's METADATA_ONLY bootstrap on the bloom layout: onboard an
    * existing parquet directory as a bloom table WITHOUT rewriting it.
    * The manifest lists the source files IN PLACE (absolute paths —
    * `Path.resolve` passes an absolute operand through, so every
    * existing resolution path serves them unchanged), and the
    * range∩bloom index is built over them with ONE scan and zero data
    * written — the analog of Hudi's skeleton-file key metadata. From
    * then on the table behaves like any bloom table: an upsert
    * rewrites the touched SOURCE files' survivors into owned `c=N`
    * files and swings the source files out of the manifest — the
    * source dir is never mutated, and a file is individually
    * retireable once superseded (Hudi's per-file full-record migration
    * on first rewrite). [[clean]] never reclaims external files (the
    * engine does not own them).
    *
    * Duplicate keys in the source are refused loudly: a CoW snapshot
    * read is a plain file union — nothing would merge duplicates away
    * (unlike [[MorTable.bootstrap]], whose snapshot merge resolves
    * them). Onboarding such a source needs a full-record mode
    * (`run_bootstrap(..., 'bucket')` — a keyed rewrite).
    */
  def bootstrap(spark: SparkSession, sourceDir: String, tablePath: String,
      keys: Seq[String], precombine: String, tieBreak: Seq[String] = Nil,
      numFiles: Int = 8): Unit = {
    require(!exists(tablePath), s"table already exists at $tablePath")
    val src = spark.read.parquet(sourceDir)
    val fields = src.schema.fieldNames.toSet
    val missing = ((keys :+ precombine) ++ tieBreak).filterNot(fields.contains)
    require(missing.isEmpty,
      s"source $sourceDir lacks required columns: ${missing.mkString(", ")}")
    val counts = src.agg(count(lit(1)), count_distinct(
      struct(keys.map(col): _*))).head()
    val (total, distinct) = (counts.getLong(0), counts.getLong(1))
    require(total == distinct,
      s"source $sourceDir carries ${total - distinct} duplicate key(s) — " +
        "a metadata-only bloom bootstrap serves files as-is and cannot " +
        "resolve them; onboard with a full-record bootstrap instead")
    // normalized to plain absolute paths (inputFiles yields file: URIs)
    // — the same shape indexRows records, so manifest, index and
    // candidate tagging all agree on file identity
    val files = src.inputFiles.toSeq
      .map(_.replaceFirst("^file:/+", "/")).sorted
    require(files.nonEmpty, s"source $sourceDir has no parquet files")
    Files.createDirectories(Paths.get(tablePath))
    val mBits = graft.functions.BloomAggregator.sizeFor(
      math.max(1L, (total + files.size - 1) / files.size))
    Files.writeString(propsPath(tablePath),
      s"keys=${keys.mkString(",")}\nprecombine=$precombine\n" +
        s"tieBreak=${tieBreak.mkString(",")}\nmBits=$mBits\nnumFiles=$numFiles\n",
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    val p = Props(keys, precombine, tieBreak, mBits, numFiles)
    writeSchema(tablePath, src)
    // the onboarding is COMMIT 1, like create: incremental_read('t', 0)
    // bootstraps the full table
    writeManifest(tablePath, files, 1L, "write",
      CdcLog.Action.Changes { () =>
        CdcLog.diff(src.limit(0), src, keys)
      })
    writeIndex(tablePath, indexRows(src, p), 0L)
  }

  /** Read the live table. Files are grouped by commit dir so commits
    * with evolved schemas union by name (schema-on-read, as elsewhere).
    */
  def read(spark: SparkSession, tablePath: String): DataFrame = {
    val files = manifest(tablePath)
    if (files.isEmpty) {
      require(exists(tablePath), s"no bloom table at $tablePath")
      // a delete can legitimately empty the whole table — serve the
      // zero-row snapshot at the recorded schema, not an error
      return emptySnapshot(spark, tablePath)
    }
    readFiles(spark, tablePath, files)
  }

  /** Read a set of table-relative files grouped BY COMMIT DIR with a
    * by-name union: a single flat `spark.read.parquet(all files)`
    * would take its schema from one footer and silently DROP columns
    * that only later commits carry — fatal on the merge path, where
    * the surviving rows get rewritten (schema-on-read, same contract
    * as `BucketTable.readBuckets`).
    */
  private def readFiles(spark: SparkSession, tablePath: String,
      rel: Seq[String]): DataFrame = {
    dataScans.increment()
    rel.groupBy(f => f.takeWhile(_ != '/'))
      .values.map(fs => readUnitFiles(spark, absFiles(tablePath, fs.toSeq)))
      .reduce(SchemaShim.unionByName)
  }

  /** Test seam: counts data-file scan constructions (readFiles, the
    * OCC staged read, the reconcile fold-in). The OCC spec brackets
    * the in-lock window with this to pin — timing-free — that the
    * critical section constructs NO data-file read; metadata reads
    * (manifest, index parquet) are deliberately not counted.
    */
  private[graft] val dataScans = new java.util.concurrent.atomic.LongAdder
  @volatile private[graft] var lastOccInLockDataScans: Long = -1L

  /** The statement's view of the file index: the `_index/v=M` rows of
    * the live files, on the driver. Read ONCE per statement — the same
    * O(files) rows the probe used to broadcast — and everything the
    * statement needs comes from it: the indexed-file set, the tag
    * literal, and the kept rows of the next index version. Live files
    * the index has not seen (a writer that crashed between the
    * manifest swap and the index swap) are scanned and folded in here,
    * so candidate tagging never depends on the index being current —
    * missing rows are healed before they could cause a missed match,
    * and `healed` rows are persisted by the statement's index write.
    */
  private final case class IndexSnapshot(rows: Seq[Row], schema: StructType,
      tablePath: String) {
    private def fileOf(r: Row): String = r.getAs[String]("file")

    /** The snapshot restricted to (`keep`) or without the absolute `files`. */
    def filter(files: Seq[String], keep: Boolean): IndexSnapshot = {
      val fs = files.toSet
      copy(rows = rows.filter(r => fs(fileOf(r)) == keep))
    }

    /** The rows as a local relation — no Spark job to read them. */
    def frame(spark: SparkSession): DataFrame =
      spark.createDataFrame(rows.asJava, schema)

    /** Table-relative paths of the rows at `ordinals`. */
    def files(ordinals: Iterable[Int]): Seq[String] =
      ordinals.toSeq.distinct.map(i => relFile(tablePath, fileOf(rows(i)))).sorted
  }

  private def indexSnapshot(spark: SparkSession, tablePath: String,
      p: Props): IndexSnapshot = {
    val live = absFiles(tablePath, manifest(tablePath))
    val liveSet = live.toSet
    val idx = currentIndex(spark, tablePath)
    val indexed = idx.rows.filter(r => liveSet(r.getAs[String]("file")))
    val have = indexed.map(_.getAs[String]("file")).toSet
    val missing = live.filterNot(have)
    if (missing.isEmpty) IndexSnapshot(indexed, idx.schema, tablePath)
    else {
      // the missing files may span commits whose schemas differ
      // (evolution, type widening); index rows have a fixed shape, so
      // compute per commit dir and union the RESULTS (indexRows needs
      // each group's own `_metadata.file_path`, which unions drop)
      val healed = spark.createDataFrame(indexed.asJava, idx.schema).unionByName(
        missing.groupBy(f => f.substring(0, f.lastIndexOf('/'))).values
          .map { fs =>
            dataScans.increment()
            indexRows(readUnitFiles(spark, fs.toSeq.sorted), p)
          }
          .reduce(_.unionByName(_)))
      IndexSnapshot(healed.collect().toSeq, healed.schema, tablePath)
    }
  }

  private val TagCol = "__tag"

  /** `df` plus [[TagCol]]: the ordinals of the snapshot rows whose
    * file MAY contain the row's key (range ∩ bloom tagging — Hudi's
    * `tagLocation`). The snapshot rows travel as one literal array,
    * shipped with the stage's task binary once per executor; each row
    * pays one range compare plus K bit tests per file. `df` must carry
    * the key columns.
    */
  private def withTag(df: DataFrame, snap: IndexSnapshot, p: Props): DataFrame = {
    val ks = StructType(Seq(StructField("i", IntegerType, nullable = false),
      snap.schema("key_min"), snap.schema("key_max"), snap.schema("bloom")))
    val entries = snap.rows.zipWithIndex.map { case (r, i) =>
      Row(i, r.getAs[Any]("key_min"), r.getAs[Any]("key_max"), r.getAs[Any]("bloom"))
    }
    val cols = df.columns.toSeq
    withKeyHashes(df, p.keys)
      .withColumn("__poss", expr(positions(p.mBits)))
      .withColumn("__k0", col(p.keys.head))
      .withColumn("__idx", org.apache.spark.sql.graftbridge.Bridge.column(
        Literal.create(entries, ArrayType(ks, containsNull = false))))
      .withColumn(TagCol, expr(
        """transform(filter(__idx, f ->
          | __k0 >= f.key_min AND __k0 <= f.key_max AND
          | forall(__poss, p ->
          |  (element_at(f.bloom, CAST(p DIV 64 AS INT) + 1)
          |   & shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) != 0)),
          | f -> f.i)""".stripMargin))
      .select((cols :+ TagCol).map(col): _*)
  }

  /** Checkpoint `df` and tag it in the same job: the row count, the
    * candidate files of its keys and the values of `aggs` all ride the
    * checkpoint as observed metrics ([[Fuse.checkpointObserved]], the
    * way bucket and partitioned route their batches). An empty
    * snapshot has no candidates and skips the tag.
    */
  private def checkpointTagged(df: DataFrame, snap: IndexSnapshot, p: Props,
      aggs: Column*): (DataFrame, Long, Seq[String], IndexedSeq[Any]) = {
    val tagged = if (snap.rows.isEmpty) df.withColumn(TagCol, typedLit(Seq.empty[Int]))
      else withTag(df, snap, p)
    val (ck, vs) = Fuse.checkpointObserved(tagged,
      (count(lit(1)) +: collect_set(col(TagCol)) +: aggs): _*)
    val ordinals = vs(1).asInstanceOf[scala.collection.Seq[scala.collection.Seq[Int]]].flatten
    (ck.drop(TagCol), vs.head.asInstanceOf[Number].longValue(),
      snap.files(ordinals), vs.drop(2))
  }

  /** Table-relative files that may hold a key of `keyRows` — the
    * statement tag as a probe of its own (`BloomTagProps` checks it
    * against a reference tagger).
    */
  private[etl] def candidates(spark: SparkSession, tablePath: String,
      keyRows: DataFrame): Seq[String] = {
    val p = props(tablePath)
    checkpointTagged(keyRows.select(p.keys.map(col): _*),
      indexSnapshot(spark, tablePath, p), p)._3
  }

  /** The next index version's rows: the snapshot minus the files the
    * commit retired, plus one row per file it wrote. The written files
    * are read as one partition, so the per-file aggregation needs no
    * shuffle and the whole version is one job.
    */
  private def nextIndexRows(spark: SparkSession, tablePath: String,
      snap: IndexSnapshot, retired: Seq[String], written: Seq[String],
      p: Props): DataFrame = {
    val kept = snap.filter(absFiles(tablePath, retired), keep = false).frame(spark)
    if (written.isEmpty) kept
    else kept.unionByName(indexRows(
      readUnitFiles(spark, absFiles(tablePath, written)).coalesce(1), p))
  }

  /** Bloom-routed upsert: tag the batch to candidate files, merge
    * against ONLY those, write the merged region as a new commit,
    * swing the manifest (old candidates out, new files in), then
    * refresh the index incrementally (retired rows dropped, new files
    * scanned — never the untouched ones). Returns the relative paths
    * of the files the batch actually rewrote (empty = pure append).
    */
  def upsertInto(spark: SparkSession, tablePath: String,
      incoming: DataFrame,
      validators: Seq[PreCommit.Rule] = Nil): Seq[String] =
    withTableLock(tablePath)(
      upsertIntoLocked(spark, tablePath, incoming, validators))

  /** Hudi's `insert_overwrite_table` (the replacecommit): the
    * precombine-deduped batch replaces the table — one fresh commit's
    * files become the entire manifest, and the range/bloom index is
    * rebuilt from exactly those files (tiny: O(new files) rows).
    * Previous commits' files are untouched until [[clean]]; O(batch)
    * written, zero old data read.
    */
  def overwriteTable(spark: SparkSession, tablePath: String,
      incoming: DataFrame,
      validators: Seq[PreCommit.Rule] = Nil): Seq[String] =
    withTableLock(tablePath) {
      val p = props(tablePath)
      val (batch, batchN) = Fuse.checkpointCounted(
        HudiLike.precombineLatest(incoming, p.keys, p.precombine, p.tieBreak))
      require(batchN > 0L,
        s"INSERT OVERWRITE with an empty batch at $tablePath — an empty " +
          "manifest would brick reads; DELETE the rows instead")
      PreCommit.validate(batch, validators)
      val commit = nextCommit(tablePath)
      val written = writeCommit(batch, tablePath, commit, p, p.numFiles)
      writeSchema(tablePath, batch)
      writeManifest(tablePath, written, commit, "overwrite",
        CdcLog.Action.Destructive)
      writeIndex(tablePath,
        indexRows(readUnitFiles(spark, absFiles(tablePath, written)), p),
        nextIndexVersion(tablePath))
      // bound secondary indexes are rebuilt from the replacement —
      // proportionate, the verb itself replaced the whole table
      // (createBloom re-binds and records each covered head itself)
      boundSecondaryIndexes(tablePath).foreach { case (secCols, idxPath) =>
        val numBuckets = BucketTable.props(idxPath).numBuckets
        FsUtil.deleteRecursively(Paths.get(idxPath))
        SecondaryIndex.createBloom(spark, tablePath, idxPath, secCols,
          numBuckets)
      }
      written
    }

  private def upsertIntoLocked(spark: SparkSession, tablePath: String,
      incoming: DataFrame, validators: Seq[PreCommit.Rule]): Seq[String] = {
    val p = props(tablePath)
    val snap = indexSnapshot(spark, tablePath, p)
    // the emptiness gate and the candidate files ride the batch
    // checkpoint as observed metrics. Validators judge the precombined
    // batch (a superseded duplicate cannot veto); without them the
    // merge's own window resolves duplicate batch keys — one window
    // over table and batch orders rows exactly as precombine-then-merge
    // does
    val (batch, batchN, touched, _) = checkpointTagged(
      if (validators.isEmpty) incoming
      else HudiLike.precombineLatest(incoming, p.keys, p.precombine, p.tieBreak),
      snap, p)
    if (batchN == 0L) return Seq.empty
    // gate BEFORE any write: a rejected batch leaves the table
    // byte-identical (PreCommit's contract)
    PreCommit.validate(batch, validators)
    val commit = nextCommit(tablePath)
    val existing =
      if (touched.isEmpty) batch.limit(0)
      else readFiles(spark, tablePath, touched)
    val bound = boundSecondaryIndexes(tablePath)
    // each row of the merge carries its key's prior secondary values,
    // so the index delta is a filter of the merge (see movedDelta)
    val merged = HudiLike.upsert(existing, batch, p.keys, p.precombine,
      p.tieBreak, prior = bound.flatMap(_._1).distinct)
    val rows = merged.drop(HudiLike.PriorCol)
    // file budget for the rewritten region: keep the region's file
    // count (+1 when pure append) so file sizes stay level without a
    // table-wide count() job; compact() re-levels the whole table
    val written = writeCommit(rows, tablePath, commit, p,
      math.max(1, touched.size))
    val newManifest = (manifest(tablePath).toSet -- touched) ++ written
    writeSchema(tablePath, rows)
    // an upsert can only change the BATCH's keys: the region's other
    // rows are copied byte-equal into the new files and would diff to
    // filtered-out no-ops — restrict both diff sides to the batch keys
    // so the cdc join aggregates O(batch) rows, not O(region)
    // (guide §2.3)
    def batchKeys = batch.select(p.keys.map(col): _*)
    writeManifest(tablePath, newManifest.toSeq, commit, "write",
      CdcLog.Action.Changes { () =>
        CdcLog.diff(
          existing.join(batchKeys, p.keys, "leftsemi"),
          readFiles(spark, tablePath, written)
            .join(batchKeys, p.keys, "leftsemi"), p.keys)
      })
    writeIndex(tablePath,
      nextIndexRows(spark, tablePath, snap, touched, written, p),
      nextIndexVersion(tablePath))
    maintainBound(spark, bound, commit)((secCols, _) =>
      Some(movedDelta(merged, secCols, p.keys)))
    touched
  }

  /** The index delta of a merge that carries [[HudiLike.PriorCol]]:
    * for each row whose `secCols` mapping the merge moved, the prior
    * mapping flips dead (none for a new key) and the new one upserts
    * live — the [[SecondaryIndex.sideDiff]] shape. Rows of keys outside
    * the batch keep their prior values and drop out. The index's routed
    * checkpoint evaluates it on the executors; the key columns pass
    * through untouched, so the merge's partitioning by key already
    * clusters the index's precombine and it needs no exchange.
    */
  private def movedDelta(merged: DataFrame, secCols: Seq[String],
      keys: Seq[String]): DataFrame = {
    val prior = col(HudiLike.PriorCol)
    val pre = struct(secCols.map(c => prior.getField(c).as(c)): _*)
    val post = struct(secCols.map(col): _*)
    def side(sec: Column, live: Boolean): Column =
      struct(secCols.map(c => sec.getField(c).as(c)) :+
        lit(live).as(SecondaryIndex.LiveCol): _*)
    merged.filter(prior.isNull || !(pre <=> post))
      .select(keys.map(col) :+ explode(filter(
        array(when(prior.isNotNull, side(pre, live = false)), side(post, live = true)),
        _.isNotNull)).as("m"): _*)
      .select(secCols.map(c => col("m").getField(c).as(c)) ++ keys.map(col) :+
        col("m").getField(SecondaryIndex.LiveCol).as(SecondaryIndex.LiveCol): _*)
  }

  /** One FILE-level optimistic-concurrency attempt against the `m0`
    * manifest view — Hudi's file-group conflict detection applied to
    * the layout closest to vanilla Hudi CoW (the [[BucketTable]] OCC
    * design with the bucket set replaced by the candidate-file set).
    * Tag, merge and stage run OUTSIDE the lock; the short in-lock
    * window commits only if
    *   (a) every candidate file the merge read is STILL live (a
    *       concurrent commit re-pointing one means we merged against
    *       superseded content), and
    *   (b) no intervening commit ADDED a file that may contain one of
    *       our batch's keys (probed range∩bloom through the index — a
    *       false positive costs a spurious retry, never a wrong
    *       commit; a miss is impossible, the filter is only ever
    *       definite about ABSENCE). Without (b), two pure appends of
    *       the same key would both commit and leave two live versions.
    * Disjoint writers both commit even when fully overlapped in time;
    * a conflicted one gets None, its staged dir removed, the table
    * untouched. The staged dir deliberately does NOT match `c=\d+`
    * until the in-lock rename, so a crashed attempt's debris never
    * perturbs [[nextCommit]] (clean's debris sweep reclaims it).
    */
  private[graft] def attemptOccFrom(spark: SparkSession, tablePath: String,
      incoming: DataFrame, m0: Seq[String],
      validators: Seq[PreCommit.Rule] = Nil): Option[Seq[String]] = {
    val p = props(tablePath)
    // tag against the m0 VIEW: live index rows restricted to m0's
    // files (an m0 file a concurrent commit already retired drops out
    // here — its rewritten content surfaces as ADDED files, which
    // check (b) probes)
    val snap0 = indexSnapshot(spark, tablePath, p)
      .filter(absFiles(tablePath, m0), keep = true)
    val (batch, batchN, touched, _) = checkpointTagged(
      HudiLike.precombineLatest(incoming, p.keys, p.precombine, p.tieBreak),
      snap0, p)
    if (batchN == 0L) return Some(Seq.empty)
    PreCommit.validate(batch, validators)
    val existing =
      if (touched.isEmpty) batch.limit(0)
      else readFiles(spark, tablePath, touched)
    val bound = boundSecondaryIndexes(tablePath)
    val merged = HudiLike.upsert(existing, batch, p.keys, p.precombine,
      p.tieBreak)
    val staged = Paths.get(tablePath, s"_staged-occ${System.nanoTime()}")
    UnitSchema.write(
      merged.repartitionByRange(math.max(1, touched.size), col(p.keys.head)),
      staged.toString)
    // The staged files are IMMUTABLE from here: everything derivable
    // from them — the CDC row image and the per-file bloom/zone index
    // rows — is computed and MATERIALIZED before the lock, so the
    // critical section does no data-file I/O. At 100 TB the lock hold
    // must not scale with commit size; that is what OCC exists to
    // avoid, and Hudi's in-lock validation is likewise metadata-only.
    dataScans.increment()
    // by file list: a root path named `_staged-…` is hidden to Spark
    val stagedContent = UnitSchema.read(spark, staged.toString,
      listParquet(staged).map(_.toString))
    val cdcRows =
      if (CdcLog.enabled(tablePath))
        Some(CdcLog.diff(existing, stagedContent, p.keys).localCheckpoint())
      else None
    // index rows carry the staged paths; only the directory segment
    // changes at the in-lock rename, remapped there as a
    // one-row-per-file metadata transformation, never a re-scan
    val stagedIdx = indexRows(stagedContent, p).localCheckpoint()
    val stagedSeg = "/" + staged.getFileName.toString + "/"
    // the staged dir's age is what clean's debris sweep reads: it is
    // fresh from here for as long as this writer may queue for the lock
    FsUtil.touch(staged)
    val outcome = FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val scans0 = dataScans.sum()
      try {
        val m1 = manifest(tablePath)
        val removedSince = m0.toSet -- m1.toSet
        val addedSince = (m1.toSet -- m0.toSet).toSeq.sorted
        val readConflict = touched.exists(removedSince)
        // reconcile BEFORE the manifest swing: against m1 every live
        // file is indexed, so the heal path (which would scan data
        // files) cannot trigger; after the swing it would "heal" the
        // just-written files we already have rows for in stagedIdx
        lazy val snap1 = indexSnapshot(spark, tablePath, p)
        lazy val addConflict = addedSince.nonEmpty &&
          checkpointTagged(batch, snap1.filter(
            absFiles(tablePath, addedSince), keep = true), p)._3.nonEmpty
        // a staged dir swept as debris cannot commit: the attempt retries
        if (readConflict || addConflict || !Files.isDirectory(staged)) None
        else {
          val commit = nextCommit(tablePath)
          Files.move(staged, Paths.get(tablePath, s"c=$commit"),
            StandardCopyOption.ATOMIC_MOVE)
          val written = listCommitFiles(tablePath, commit)
          writeSchema(tablePath, merged)
          val keptIdx = snap1.filter(absFiles(tablePath, touched),
            keep = false).frame(spark)
          writeManifest(tablePath,
            ((m1.toSet -- touched) ++ written).toSeq, commit, "write",
            CdcLog.Action.Changes { () =>
              cdcRows.getOrElse(
                // CDC flipped on between the pre-lock check and here —
                // the one (rare) case that still diffs in-lock
                CdcLog.diff(existing, readFiles(spark, tablePath, written),
                  p.keys))
            })
          writeIndex(tablePath,
            keptIdx.unionByName(stagedIdx.withColumn("file",
              regexp_replace(col("file"),
                java.util.regex.Pattern.quote(stagedSeg), s"/c=$commit/"))),
            nextIndexVersion(tablePath))
          Some((commit, written))
        }
      } finally lastOccInLockDataScans = dataScans.sum() - scans0
    }
    outcome match {
      case None =>
        FsUtil.deleteRecursively(staged)
        None
      case Some((commit, written)) =>
        maintainBound(spark, bound, commit)(
          regionDelta(bound, existing, readFiles(spark, tablePath, written), p))
        Some(written)
    }
  }

  /** Multi-writer upsert under optimistic concurrency control: only
    * writers whose batches tag into a COMMON candidate file (or whose
    * added files may hold a common key) contend; the loser re-merges
    * just its own batch against the fresh manifest and retries.
    * Concurrent front door — [[upsertInto]] stays the single-writer
    * serialized path.
    */
  def upsertIntoOcc(spark: SparkSession, tablePath: String,
      incoming: DataFrame, maxRetries: Int = 5): Seq[String] = {
    var attempt = 0
    while (attempt <= maxRetries) {
      attemptOccFrom(spark, tablePath, incoming, manifest(tablePath)) match {
        case Some(written) => return written
        case None => attempt += 1
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"gave up after $maxRetries OCC retries at $tablePath — " +
        "another writer keeps re-pointing the touched files")
  }

  /** Row-level delete by key (Hudi's `delete` operation — the
    * reference's Hudi writer accepts it through the same upsert API,
    * `hoodie.datasource.write.operation=delete`): tag the keys to
    * candidate files exactly like an upsert, rewrite ONLY those files
    * minus the deleted keys, swing the manifest. Keys the bloom proves
    * absent cost nothing — no file read, no commit. Returns the
    * relative paths of the rewritten files.
    */
  def deleteFrom(spark: SparkSession, tablePath: String,
      keysToDelete: DataFrame): Seq[String] =
    withTableLock(tablePath)(deleteFromLocked(spark, tablePath, keysToDelete))

  private def deleteFromLocked(spark: SparkSession, tablePath: String,
      keysToDelete: DataFrame): Seq[String] = {
    val p = props(tablePath)
    val snap = indexSnapshot(spark, tablePath, p)
    // the key sample rides the tag: a short key set splits the region
    // with a literal IN, a long one joins the checkpointed keys
    val (keyRel, keyN, touched, Seq(sample)) = checkpointTagged(
      keysToDelete.select(p.keys.map(col): _*), snap, p, keySample(p.keys))
    if (keyN == 0L || touched.isEmpty) return Seq.empty
    val existing = readFiles(spark, tablePath, touched)
    val bound = boundSecondaryIndexes(tablePath)
    val victims = byKeys(existing, p.keys, keyRel, keyN, sample, in = true)
    val remaining = byKeys(existing, p.keys, keyRel, keyN, sample, in = false)
    val commit = nextCommit(tablePath)
    // the write job observes the survivor count (the range sampler
    // re-reads its input, so only the count's sign is used)
    val Seq(survivors) = Fuse.writeObserved(remaining, count(lit(1)))(o =>
      UnitSchema.write(rangeClustered(o, p, touched.size), s"$tablePath/c=$commit"))
    // the whole candidate region may empty out — then the commit is
    // pure retirement: no new files, just the manifest shrinking
    val written =
      if (survivors.asInstanceOf[Number].longValue() > 0L) listCommitFiles(tablePath, commit)
      else { FsUtil.deleteRecursively(Paths.get(tablePath, s"c=$commit")); Seq.empty }
    writeSchema(tablePath, remaining)
    // a delete only changes the VICTIM keys: survivors are copied
    // byte-equal and would diff to no-ops — the before side restricts
    // to the victims (whose after side is by construction empty), so
    // the cdc join and the index delta aggregate O(victims) rows, not
    // O(region) (guide §2.3)
    writeManifest(tablePath,
      ((manifest(tablePath).toSet -- touched) ++ written).toSeq,
      commit, "delete",
      CdcLog.Action.Changes(() => CdcLog.diff(victims, victims.limit(0), p.keys)))
    writeIndex(tablePath,
      nextIndexRows(spark, tablePath, snap, touched, written, p),
      nextIndexVersion(tablePath))
    // every victim's mapping flips dead
    maintainBound(spark, bound, commit)((secCols, _) =>
      Some(victims.select((secCols ++ p.keys).map(col) :+
        lit(false).as(SecondaryIndex.LiveCol): _*)))
    touched
  }

  /** Rewrite the candidate region `keyRows`' keys tag to (range ∩
    * bloom, exactly like an upsert) through `transform` — the
    * conditional-MERGE route for bloom-layout tables: the transform
    * sees the candidate files' full current rows and returns their
    * replacement, which may also carry NEW keys (inserted rows land in
    * the rewritten region's fresh files). Keys the bloom proves absent
    * cost nothing on the read side. Returns the relative paths of the
    * files rewritten.
    */
  def rewriteKeys(spark: SparkSession, tablePath: String,
      keyRows: DataFrame)(transform: DataFrame => DataFrame): Seq[String] =
    withTableLock(tablePath)(
      rewriteKeysLocked(spark, tablePath, keyRows, transform))

  private def rewriteKeysLocked(spark: SparkSession, tablePath: String,
      keyRows: DataFrame, transform: DataFrame => DataFrame): Seq[String] = {
    val p = props(tablePath)
    val snap = indexSnapshot(spark, tablePath, p)
    val (_, keyN, touched, _) = checkpointTagged(
      keyRows.select(p.keys.map(col): _*), snap, p)
    if (keyN == 0L) Seq.empty
    else {
      val existing =
        if (touched.isEmpty) read(spark, tablePath).limit(0)
        else readFiles(spark, tablePath, touched)
      val bound = boundSecondaryIndexes(tablePath)
      val (next, nextN) = Fuse.checkpointCounted(transform(existing))
      val commit = nextCommit(tablePath)
      val written =
        if (nextN == 0L) Seq.empty
        else writeCommit(next, tablePath, commit, p, math.max(1, touched.size))
      writeManifest(tablePath,
        ((manifest(tablePath).toSet -- touched) ++ written).toSeq,
        commit, "rewrite",
        CdcLog.Action.Changes { () =>
          val after =
            if (written.isEmpty) existing.limit(0)
            else readFiles(spark, tablePath, written)
          CdcLog.diff(existing, after, p.keys)
        })
      writeIndex(tablePath,
        nextIndexRows(spark, tablePath, snap, touched, written, p),
        nextIndexVersion(tablePath))
      maintainBound(spark, bound, commit)(
        regionDelta(bound, existing, next, p))
      touched
    }
  }

  /** Targeted rewrite of the rows a predicate selects: ONE
    * column-pruned discovery scan (predicate columns + file
    * provenance) finds the files holding matching rows; ONLY those
    * files are read in full, pushed through `transform`, and rewritten
    * as a new commit — the SQL UPDATE/DELETE route for bloom-layout
    * tables. Files the predicate provably misses are never read twice
    * nor written. Returns the relative paths of the rewritten files.
    */
  def rewriteWhere(spark: SparkSession, tablePath: String,
      pred: Column)(transform: DataFrame => DataFrame): Seq[String] =
    withTableLock(tablePath)(rewriteWhereLocked(spark, tablePath, pred,
      transform))

  private def rewriteWhereLocked(spark: SparkSession, tablePath: String,
      pred: Column, transform: DataFrame => DataFrame): Seq[String] = {
    val p = props(tablePath)
    val live = manifest(tablePath)
    if (live.isEmpty) return Seq.empty
    // the index as of the PRE-rewrite manifest, reused for the index
    // update below (same shape as the delete path)
    val snap = indexSnapshot(spark, tablePath, p)
    val touched = live.groupBy(_.takeWhile(_ != '/')).values.map { fs =>
      readUnitFiles(spark, absFiles(tablePath, fs.toSeq))
        .withColumn("__fp",
          regexp_replace(col("_metadata.file_path"), "^file:/+", "/"))
    }.reduce(SchemaShim.unionByName)
      .filter(pred).select("__fp").distinct()
      .collect().map(r => relFile(tablePath, r.getString(0))).toSeq.sorted
    if (touched.isEmpty) return Seq.empty
    val bound = boundSecondaryIndexes(tablePath)
    val (next, nextN) = Fuse.checkpointCounted(
      transform(readFiles(spark, tablePath, touched)))
    val commit = nextCommit(tablePath)
    val written =
      if (nextN == 0L) Seq.empty
      else writeCommit(next, tablePath, commit, p, touched.size)
    writeSchema(tablePath, next)
    writeManifest(tablePath,
      ((live.toSet -- touched) ++ written).toSeq, commit, "rewrite",
      CdcLog.Action.Changes { () =>
        val before = readFiles(spark, tablePath, touched)
        val after =
          if (written.isEmpty) before.limit(0)
          else readFiles(spark, tablePath, written)
        CdcLog.diff(before, after, p.keys)
      })
    writeIndex(tablePath,
      nextIndexRows(spark, tablePath, snap, touched, written, p),
      nextIndexVersion(tablePath))
    maintainBound(spark, bound, commit)(
      regionDelta(bound, readFiles(spark, tablePath, touched), next, p))
    touched
  }

  /** Multi-key point lookup: tag ALL requested keys to their candidate
    * files in one index probe, read only those files, keep only the
    * requested keys — O(candidate files), never the table (the
    * [[SecondaryIndex]] second hop and the reconcile pre-probe).
    */
  def lookupMany(spark: SparkSession, tablePath: String,
      keyRows: DataFrame): DataFrame = {
    val p = props(tablePath)
    // the key sample rides the probe's checkpoint: a short key set
    // filters the fetch with a literal IN, a long one joins the keys
    val (keyRel, keyN, candidates, Seq(sample)) = checkpointTagged(
      keyRows.select(p.keys.map(col): _*), indexSnapshot(spark, tablePath, p), p,
      keySample(p.keys))
    if (candidates.isEmpty) read(spark, tablePath).limit(0)
    else byKeys(readFiles(spark, tablePath, candidates), p.keys, keyRel, keyN,
      sample, in = true)
  }

  /** Commit each bound index's mapping delta for commit `commitNo` —
    * `delta(secCols, i)` for the i-th binding, None when nothing moved
    * — then record the commit covered. Runs after the manifest swing;
    * the crash window is caught by the covered-head serve check
    * ([[SecondaryIndex.ensureCurrent]]).
    */
  private def maintainBound(spark: SparkSession,
      bound: Seq[(Seq[String], String)], commitNo: Long)(
      delta: (Seq[String], Int) => Option[DataFrame]): Unit =
    for (((secCols, idxPath), i) <- bound.zipWithIndex)
      SecondaryIndex.withMaintLock(idxPath) {
        delta(secCols, i).foreach(SecondaryIndex.applyDelta(spark, idxPath, _))
        SecondaryIndex.markCoveredLocked(idxPath, commitNo)
      }

  /** The delta between the pre/post row states of a commit's touched
    * region (a superset of what changed — the diff drops the unchanged
    * mappings), for statements whose transform may touch any region
    * row. `post` is materialized only when SEVERAL indexes would each
    * re-evaluate it.
    */
  private def regionDelta(bound: Seq[(Seq[String], String)], pre: DataFrame,
      post: => DataFrame, p: Props): (Seq[String], Int) => Option[DataFrame] = {
    lazy val postC = if (bound.sizeIs > 1) post.localCheckpoint() else post
    (secCols, _) => {
      val mapCols = (secCols ++ p.keys).map(col)
      Some(SecondaryIndex.sideDiff(pre.select(mapCols: _*), postC.select(mapCols: _*)))
    }
  }

  /** Point lookup by full key: probe the index, read only candidate
    * files (usually one: ranges are non-overlapping per commit and the
    * bloom kills false range matches across commits), filter exact.
    */
  def lookup(spark: SparkSession, tablePath: String,
      keyValues: Seq[Any]): DataFrame = {
    val p = props(tablePath)
    require(keyValues.length == p.keys.length,
      s"expected ${p.keys.length} key values (${p.keys.mkString(",")})")
    val schema = read(spark, tablePath).schema
    // a one-row LOCAL probe: its tag evaluates on the driver, no job
    val probe = Layout.literalRow(spark,
      p.keys.map(k => k -> schema(k).dataType), keyValues)
    val snap = indexSnapshot(spark, tablePath, p)
    val candidates =
      if (snap.rows.isEmpty) Seq.empty
      else snap.files(withTag(probe, snap, p).select(TagCol).collect()
        .flatMap(_.getSeq[Int](0)))
    if (candidates.isEmpty)
      return read(spark, tablePath).limit(0)
    // candidates may span commits whose schemas differ (evolution,
    // type widening) — group per commit dir like every other read
    val base = readFiles(spark, tablePath, candidates)
    p.keys.zip(keyValues).foldLeft(base) { case (df, (k, v)) =>
      df.filter(col(k) === lit(v).cast(schema(k).dataType))
    }
  }

  /** Rewrite the whole table key-range clustered at `numFiles` fresh
    * files in one commit — re-levels file sizes after append drift and
    * restores globally non-overlapping ranges (Hudi clustering).
    */
  def compact(spark: SparkSession, tablePath: String): Long =
    withTableLock(tablePath)(compactLocked(spark, tablePath))

  private def compactLocked(spark: SparkSession, tablePath: String): Long = {
    val p = props(tablePath)
    if (manifest(tablePath).isEmpty) {
      // an emptied table has nothing to re-level — no-op, no commit
      require(exists(tablePath), s"no bloom table at $tablePath")
      return -1L
    }
    val commit = nextCommit(tablePath)
    val written = writeCommit(read(spark, tablePath), tablePath, commit, p,
      p.numFiles)
    writeManifest(tablePath, written, commit, "cluster",
      CdcLog.Action.Preserving)
    writeIndex(tablePath,
      indexRows(readUnitFiles(spark, absFiles(tablePath, written)), p),
      nextIndexVersion(tablePath))
    // content-preserving commit: mappings unchanged, head advances
    boundSecondaryIndexes(tablePath).foreach { case (_, idxPath) =>
      SecondaryIndex.markCovered(idxPath, commit)
    }
    commit
  }

  /** The CURRENT data files (manifest-resolved, absolute) — the file
    * list a [[StatsIndex]] over the table must index.
    */
  def liveFiles(tablePath: String): Seq[String] =
    absFiles(tablePath, manifest(tablePath)).sorted

  /** Sort-clustering replacecommit for the bloom layout: rewrite the
    * live table into files RANGE-PARTITIONED by `sortCols` (instead of
    * [[writeCommit]]'s key ranges), rebuild the file index over the new
    * commit, swing the manifest. Key-range tagging across the new files
    * degrades (every file may span the key domain) but the bloom
    * filters keep point tagging exact; what the trade buys is that a
    * column-stats index over the table prunes `sortCols` range
    * predicates to a few files — Hudi's clustering trade precisely.
    * Old commits stay readable until [[clean]]. Returns the commit id.
    */
  def cluster(spark: SparkSession, tablePath: String, sortCols: Seq[String],
      targetFileRows: Long): Long =
    withTableLock(tablePath) {
      require(sortCols.nonEmpty, "at least one clustering sort column")
      val p = props(tablePath)
      val data = read(spark, tablePath)
      val rows = data.count()
      val files = math.max(p.numFiles.toLong,
        (rows + targetFileRows - 1) / targetFileRows).toInt
      val commit = nextCommit(tablePath)
      UnitSchema.write(data.repartitionByRange(files, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*), s"$tablePath/c=$commit")
      val written = listCommitFiles(tablePath, commit)
      writeManifest(tablePath, written, commit, "cluster",
        CdcLog.Action.Preserving)
      writeIndex(tablePath,
        indexRows(readUnitFiles(spark, absFiles(tablePath, written)), p),
        nextIndexVersion(tablePath))
      boundSecondaryIndexes(tablePath).foreach { case (_, idxPath) =>
        SecondaryIndex.markCovered(idxPath, commit)
      }
      commit
    }

  /** Inline compaction trigger (Hudi's
    * `hoodie.compact.inline.max.delta.commits` analog, applied to
    * file-count drift): every pure-append trickle commit adds a file,
    * and past a few multiples of `numFiles` the manifest's small-file
    * spread degrades both candidate tagging (more ranges overlap) and
    * read fan-in. Call after upserts; compacts when the live file
    * count exceeds `maxLiveFiles` (default 3× the layout target) and
    * returns the new commit id when it did.
    */
  def maybeCompact(spark: SparkSession, tablePath: String,
      maxLiveFiles: Int = -1): Option[Long] = {
    val limit =
      if (maxLiveFiles > 0) maxLiveFiles else 3 * props(tablePath).numFiles
    if (manifest(tablePath).size <= limit) None
    else Some(compact(spark, tablePath))
  }

  // ---- savepoints (the pin file family is TableLayout's) -------------

  /** A bloom savepoint pins a copy of the manifest's file list — the
    * [[BucketTable]] design applied to a file manifest instead of a
    * bucket→generation map.
    */
  protected def savepointBody(tablePath: String): String = {
    val m = manifest(tablePath)
    require(m.nonEmpty, s"no committed state to savepoint at $tablePath")
    m.mkString("", "\n", "\n")
  }

  /** The pinned file set; loud if any pinned file vanished (only
    * possible by external deletion — [[clean]] treats pinned files as
    * live).
    */
  private def savepointFiles(tablePath: String, name: String): Seq[String] = {
    val files = savepointLines(tablePath, name)
    val missing = files.filterNot(entryExists(tablePath, _))
    require(missing.isEmpty,
      s"savepoint $name at $tablePath: pinned file(s) " +
        s"${missing.mkString(",")} are gone — the savepoint no longer " +
        "resolves")
    files
  }

  def readSavepoint(spark: SparkSession, tablePath: String,
      name: String): DataFrame =
    readFiles(spark, tablePath, savepointFiles(tablePath, name))

  /** One manifest swing to the pinned file list, logged as its own
    * `restore` commit — destructive for the incremental feed (rows may
    * vanish with no per-file ADD to express it), so [[changedSince]]
    * windows spanning it fail loudly toward a re-sync and the cdc floor
    * ratchets. The filter index is rebuilt over the restored set (the
    * current index version describes the superseded live set).
    * Commits after the savepoint become unreferenced debris for
    * [[clean]].
    */
  def restoreSavepoint(spark: SparkSession, tablePath: String,
      name: String): Unit = {
    // same contract as BucketTable.restoreSavepoint: a restore has no
    // per-row diff to reconcile a bound mapping index by — refuse
    // loudly rather than leave the index diverged
    require(boundSecondaryIndexes(tablePath).isEmpty,
      s"restore at $tablePath with a bound secondary index would leave " +
        "the index diverged — DROP INDEX first, restore, then re-create")
    val files = savepointFiles(tablePath, name)
    withTableLock(tablePath) {
      val commit = nextCommit(tablePath)
      writeManifest(tablePath, files, commit, "restore",
        CdcLog.Action.Destructive)
      writeIndex(tablePath,
        indexRows(readFiles(spark, tablePath, files), props(tablePath)),
        nextIndexVersion(tablePath))
    }
  }

  def changeCounts(tablePath: String): (Long, Long, Long) =
    (0L, latestCommit(tablePath), 0L)

  /** Remove data files no longer in the manifest and index versions
    * before the latest. `keepVersions > 0` additionally retains every
    * file the newest `keepVersions` commits' snapshots reference
    * (Hudi's KEEP_LATEST_COMMITS cleaner policy) — `VERSION AS OF` is
    * then GUARANTEED within the retention window, loud outside it.
    * Returns removed paths (table-relative).
    */
  def clean(tablePath: String, keepVersions: Int): Seq[String] = {
    val head = latestCommit(tablePath)
    val retained: Set[String] =
      if (keepVersions <= 0) Set.empty
      else {
        require(head >= 1,
          s"clean($tablePath, keepVersions=$keepVersions): no commit " +
            "log (table predates commit logging) — retention needs " +
            "logged history")
        (math.max(1L, head - keepVersions + 1) to head)
          .flatMap(manifestAsOf(tablePath, _)).toSet
      }
    // savepoint-pinned files count as live — the pin IS the contract
    val pinned = savepoints(tablePath)
      .flatMap(savepointLines(tablePath, _)).toSet
    val live = manifest(tablePath).toSet ++ retained ++ pinned
    val base = Paths.get(tablePath)
    def listDir(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq finally s.close()
    }
    val removedData = listDir(base)
      .filter(_.getFileName.toString.matches("c=\\d+"))
      .flatMap { cdir =>
        val parts = listDir(cdir)
          .filter(_.getFileName.toString.endsWith(".parquet"))
        val (liveParts, deadParts) =
          parts.partition(f => live(s"${cdir.getFileName}/${f.getFileName}"))
        val gone = deadParts.map { f =>
          val rel = s"${cdir.getFileName}/${f.getFileName}"
          Files.delete(f); rel
        }
        // no live parquet left → the whole commit dir (markers and
        // all) is debris
        if (liveParts.isEmpty) {
          FsUtil.deleteRecursively(cdir)
          gone :+ s"${cdir.getFileName}"
        } else gone
      }
    val keep = currentIndexVersion(tablePath)
    val idxDir = Paths.get(tablePath, "_index")
    val removedIdx = {
      val s = Files.list(idxDir)
      try s.iterator().asScala
        .filter { d => val n = d.getFileName.toString
          n.startsWith("v=") && n.drop(2).toLong < keep }
        .map { d =>
          FsUtil.deleteRecursively(d)
          s"_index/${d.getFileName}"
        }.toSeq
      finally s.close()
    }
    // crashed OCC attempts' staged dirs (never referenced by any
    // manifest — the in-lock rename is what publishes them), age-gated
    // so a live writer's staged snapshot survives (FsUtil.staleDirs)
    val removedStaged = FsUtil.staleDirs(base, "_staged-occ")
      .map { d => FsUtil.deleteRecursively(d); d.getFileName.toString }
    removedData ++ removedIdx ++ removedStaged
  }
}
