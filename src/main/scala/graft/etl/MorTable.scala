package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Merge-on-read table: the Hudi table type the CoW layers
  * ([[HudiLike]], [[Timeline]]) deliberately don't cover (reference:
  * Hudi's `MERGE_ON_READ`; the reference pipeline pins CoW at
  * pipeline_architecture.py:93/245 but the engine it delegates to ships
  * both).
  *
  * The trade CoW cannot make: an upsert APPENDS the batch as an
  * immutable delta log — write cost O(batch) regardless of table size —
  * and the merge is deferred to readers (snapshot query) or to an
  * explicit compaction. At 100 TB this is the difference between a
  * minutes-cadence ingest rewriting terabytes per commit and one that
  * writes only what arrived; the price is a per-key window merge on the
  * snapshot-read side, which is exactly the shuffle Hudi's own MOR
  * snapshot queries pay.
  *
  * Layout under `tablePath/`:
  *   - `base=N/`    compacted parquet snapshot (no meta columns)
  *   - `log=N.S/`   delta batches appended since base N, S the GLOBAL
  *                  change sequence (monotonic across compactions),
  *                  carrying `_seq` (commit sequence) and `_deleted`
  *                  (tombstone flag) meta columns
  *   - `_latest`    pointer `"N H F"` (base, change-seq head, compaction
  *                  floor), swung by atomic rename — readers resolve it
  *                  once and then touch only immutable dirs; live logs
  *                  are exactly seqs (F, H]
  *   - `_props`     record key / precombine / tie-break config, written
  *                  at create time (Hudi's `hoodie.properties`), so
  *                  readers need no out-of-band schema knowledge
  *
  * Ordering contract (matches Hudi's DefaultHoodieRecordPayload as
  * rebuilt in [[HudiLike.precombineLatest]]): highest precombine wins;
  * on a tie the later commit (`_seq`) wins, so a delta overrides the
  * base it shadows; caller tie-breaks keep results deterministic.
  */
object MorTable extends TableLayout {

  val kind = "mor"

  private val SeqCol = "_seq"
  private val DelCol = "_deleted"

  private def pointer(tablePath: String): Path = Paths.get(tablePath, "_latest")
  private def historyPath(tablePath: String): Path =
    Paths.get(tablePath, "_history")

  /** Append-only base-generation history: one `base floor kind` line
    * per event that CHANGES the base (create / bootstrap / compact /
    * overwrite). With it, any change seq resolves to the base that was
    * current then — `readVersion`'s lookup. Appended BEFORE the
    * pointer swing: a crash in between leaves a line whose base dir is
    * already written and whose folded content equals the predecessor
    * state at that floor — idempotent, never a swing no line records.
    */
  private def logBase(tablePath: String, base: Long, floor: Long,
      kind: String): Unit = {
    Files.writeString(historyPath(tablePath), s"$base $floor $kind\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    ()
  }

  private def commitsTsPath(tablePath: String): Path =
    Paths.get(tablePath, "_commits")

  /** Record a commit seq's wall clock (`seq ts` line) — appended under
    * the table lock before the pointer swing; powers `TIMESTAMP AS OF`
    * over the change-seq version domain. Growth: ~20 bytes/commit
    * (≈10 MB/year at minute cadence) and read only by the cold
    * resolve path; [[archiveCommits]] folds old lines through
    * [[CommitLogFile.archive]], exactly the bucket/bloom move.
    */
  private def logSeqTime(tablePath: String, seq: Long): Unit = {
    Files.writeString(commitsTsPath(tablePath),
      s"$seq ${System.currentTimeMillis()}\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    ()
  }

  /** `TIMESTAMP AS OF` resolution — the Timeline.resolveAsOf contract
    * over the seq-time log: newest change seq at or before `tsMs`,
    * loud earlier (with a hint when the table predates timestamps).
    * Reads the FULL (archive + active) history — the cold path
    * archival exists for.
    */
  def resolveAsOf(tablePath: String, tsMs: Long): Long = {
    val timed = seqTimes(tablePath)
    val head = changeHead(tablePath)
    // clamp to the COMMITTED head: a crash between the ts append and
    // the pointer swing leaves a line for a seq that never committed,
    // and resolution must never point past what readVersion can serve
    CommitLogFile.newestAtOrBefore(tablePath, tsMs,
      timed.filter(_._1 <= head), math.max(0L, head + 1 - timed.size).toInt)
  }

  /** (change seq, wall clock) per seq-time line, archived ones included. */
  private def seqTimes(tablePath: String): Seq[(Long, Long)] =
    CommitLogFile.fullLines(tablePath).flatMap(_.split(' ') match {
      case Array(sq, t) if sq.forall(_.isDigit) && t.nonEmpty && t.forall(_.isDigit) =>
        Some((sq.toLong, t.toLong))
      case _ => None // torn trailing line
    })

  /** Seq 0 is the table's creation; every later seq a delta commit. */
  def showCommits(spark: SparkSession, tablePath: String): DataFrame =
    commitFrame(spark, seqTimes(tablePath).map { case (sq, t) =>
      (sq, if (sq == 0L) "create" else "deltacommit", t) })

  /** (base, floor, kind) history lines, oldest first. */
  def baseHistory(tablePath: String): Seq[(Long, Long, String)] = {
    val p = historyPath(tablePath)
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p).asScala.toSeq.flatMap(_.split(' ') match {
      case Array(b, f, k) if b.forall(_.isDigit) && f.forall(_.isDigit) =>
        Some((b.toLong, f.toLong, k))
      case _ => None // torn trailing line from a crashed append
    })
  }
  private def propsPath(tablePath: String): Path = Paths.get(tablePath, "_props")
  private def bootstrapPath(tablePath: String): Path = Paths.get(tablePath, "_bootstrap")

  /** Table key configuration, persisted at create time. */
  final case class Props(keys: Seq[String], precombine: String, tieBreak: Seq[String])

  /** Full pointer state `(baseVersion, head, floor)`:
    *   - `head`  — the GLOBALLY MONOTONIC change sequence of the newest
    *     commit. Never resets: compaction and overwrite carry it
    *     forward, so a CDC cursor (`= the highest seq a consumer has
    *     seen`) can never alias into a later epoch's renumbered feed.
    *   - `floor` — `compactedThrough`: the highest seq whose delta log
    *     is no longer individually addressable (folded by [[compact]]
    *     or superseded by [[overwriteTable]]). Live log dirs are
    *     exactly `log=base.s` for `s` in `(floor, head]`; a cursor
    *     `< floor` must fail loudly toward a snapshot re-sync.
    */
  def fullState(tablePath: String): Option[(Long, Long, Long)] = {
    val p = pointer(tablePath)
    if (!Files.exists(p)) None
    else Files.readString(p).trim.split(' ') match {
      case Array(b, h, f) => Some((b.toLong, h.toLong, f.toLong))
      // pre-monotonic pointer: deltas were per-epoch, floor unknown.
      // base == 0 means the table never compacted/overwrote under the
      // old numbering, so its seqs ARE monotonic — adopt them (floor 0).
      // base > 0 means deltas reset to 0 at least once, so any
      // pre-existing cursor may alias into the renumbered feed — set
      // floor = head to force every such cursor through the loud
      // re-sync exactly once.
      case Array(b, s) =>
        val (base, head) = (b.toLong, s.toLong)
        Some((base, head, if (base > 0L) head else 0L))
    }
  }

  /** Current `(baseVersion, liveDeltaCount)`, or None if uninitialized.
    * The second field is the number of UNCOMPACTED delta logs (`head -
    * floor`), i.e. the merge fan-in a snapshot read pays — use
    * [[changeHead]] for CDC checkpoints.
    */
  def state(tablePath: String): Option[(Long, Long)] =
    fullState(tablePath).map { case (b, h, f) => (b, h - f) }

  /** The newest commit's global change sequence — what an incremental
    * consumer checkpoints after a pull or a snapshot re-sync.
    */
  def changeHead(tablePath: String): Long =
    fullState(tablePath).map(_._2).getOrElse(
      throw new IllegalStateException(s"no MOR table at $tablePath"))

  /** The compaction floor: cursors below it are invalid (their unseen
    * window was folded into the base).
    */
  def compactedThrough(tablePath: String): Long =
    fullState(tablePath).map(_._3).getOrElse(
      throw new IllegalStateException(s"no MOR table at $tablePath"))

  def props(tablePath: String): Props = {
    val m = Files.readAllLines(propsPath(tablePath)).asScala
      .map(_.split('=')).collect { case Array(k, v) => k -> v }.toMap
    Props(
      m("keys").split(',').toSeq.filter(_.nonEmpty),
      m("precombine"),
      m.getOrElse("tieBreak", "").split(',').toSeq.filter(_.nonEmpty))
  }

  private def writePointer(tablePath: String, base: Long, head: Long,
      floor: Long): Unit = {
    val tmp = Paths.get(tablePath, s"_latest.tmp${System.nanoTime()}")
    Files.writeString(tmp, s"$base $head $floor",
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, pointer(tablePath), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Initialize the table: `df` becomes base version 0. */
  def create(df: DataFrame, tablePath: String, keys: Seq[String],
      precombine: String, tieBreak: Seq[String] = Nil,
      cdc: Boolean = false): Unit = {
    require(state(tablePath).isEmpty, s"table already exists at $tablePath")
    Files.createDirectories(Paths.get(tablePath))
    Files.writeString(propsPath(tablePath),
      s"keys=${keys.mkString(",")}\nprecombine=$precombine\ntieBreak=${tieBreak.mkString(",")}\n",
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    UnitSchema.write(HudiLike.precombineLatest(df, keys, precombine, tieBreak),
      s"$tablePath/base=0", mode = "overwrite")
    logBase(tablePath, 0L, 0L, "create")
    logSeqTime(tablePath, 0L)
    writePointer(tablePath, 0L, 0L, 0L)
    // base rows get no images (seq 0 IS the snapshot a consumer seeds
    // from); commits 1.. are captured
    if (cdc) CdcLog.enable(tablePath, 0L)
  }

  /** Metadata-only bootstrap — Hudi's `METADATA_ONLY` bootstrap mode:
    * onboard an EXISTING parquet dataset as this table's base
    * generation without reading or rewriting a single data row. Only
    * table metadata is written (`_props`, a `_bootstrap` pointer to the
    * source, the `_latest` pointer); the source files stay exactly
    * where they are and are never mutated, so onboarding a 100 TB
    * directory costs one footer read (the schema validation below),
    * not a 100 TB rewrite. From then on the table behaves like any
    * MOR table: upserts/deletes land as O(batch) delta logs layered
    * over the in-place source, and the first [[compact]] folds
    * source + logs into an owned `base=1` — Hudi's
    * "full-record migration on first rewrite" — after which the
    * original directory is no longer consulted and may be retired.
    *
    * Until that first compaction, [[readOptimized]] serves the raw
    * source as-is (duplicate keys unresolved — the same staleness
    * trade the `_ro` view always makes); [[readSnapshot]] resolves
    * keys across source ∪ logs, so a source carrying several rows per
    * key still reads correctly.
    */
  def bootstrap(spark: SparkSession, sourceDir: String, tablePath: String,
      keys: Seq[String], precombine: String, tieBreak: Seq[String] = Nil): Unit = {
    require(state(tablePath).isEmpty, s"table already exists at $tablePath")
    // footer-only schema read: fail at bootstrap time — not on first
    // read — if the source lacks a key/precombine/tie-break column
    val fields = spark.read.parquet(sourceDir).schema.fieldNames.toSet
    val missing = ((keys :+ precombine) ++ tieBreak).filterNot(fields.contains)
    require(missing.isEmpty,
      s"source $sourceDir lacks required columns: ${missing.mkString(", ")}")
    Files.createDirectories(Paths.get(tablePath))
    Files.writeString(propsPath(tablePath),
      s"keys=${keys.mkString(",")}\nprecombine=$precombine\ntieBreak=${tieBreak.mkString(",")}\n",
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.writeString(bootstrapPath(tablePath), sourceDir,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    logBase(tablePath, 0L, 0L, "bootstrap")
    logSeqTime(tablePath, 0L)
    writePointer(tablePath, 0L, 0L, 0L)
  }

  /** The bootstrap source dir (if this table was onboarded
    * metadata-only) and whether generation 0 still serves it IN PLACE —
    * the introspection behind `CALL show_bootstrap_mapping` (Hudi's
    * procedure of the same name). After the first compaction the base
    * generation is owned and the source is no longer read.
    */
  def bootstrapMapping(tablePath: String): Option[(String, Boolean)] =
    if (!Files.exists(bootstrapPath(tablePath))) None
    else Some((Files.readString(bootstrapPath(tablePath)).trim,
      fullState(tablePath).exists(_._1 == 0L)))

  /** Base generation as a frame: generation 0 of a bootstrapped table
    * resolves to the external source IN PLACE; every owned generation
    * (created tables, and any bootstrapped table after its first
    * compaction) reads its own `base=N` dir.
    */
  private def baseFrame(spark: SparkSession, tablePath: String, base: Long): DataFrame =
    if (base == 0L && Files.exists(bootstrapPath(tablePath)))
      spark.read.parquet(Files.readString(bootstrapPath(tablePath)).trim)
    else UnitSchema.read(spark, s"$tablePath/base=$base")

  private def deleteRecursively(p: Path): Unit = FsUtil.deleteRecursively(p)

  /** Serialized under [[FsLock]]: seq allocation is a read-modify-write
    * of the pointer, and the lazy rollback below would otherwise
    * reclaim a CONCURRENT writer's in-flight log dir (unreferenced
    * until its pointer swing) as if it were crash debris. Holding the
    * lock across the whole append is the right trade for MOR — the log
    * write is O(batch), not a snapshot rewrite, so the critical
    * section is as small as the work itself (this is also why MOR
    * needs no OCC variant: appends to a log never conflict on
    * content, only on sequencing). A writer that dies mid-append
    * blocks others only until the lock expires; the stealer's rollback
    * then reclaims the orphan safely because it, too, holds the lock.
    */
  private def appendDelta(tablePath: String, batch: DataFrame, deleted: Boolean): Long =
    appendFlagged(tablePath, batch.withColumn(DelCol, lit(deleted)))

  /** Append a batch already carrying `_deleted` as one delta log. */
  private def appendFlagged(tablePath: String, flagged0: DataFrame): Long =
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val (base, head, floor) = fullState(tablePath).getOrElse(
        throw new IllegalStateException(s"no MOR table at $tablePath"))
      val seq = head + 1 // globally monotonic: head survives compaction
      // roll back debris from a writer that died between the log write
      // and the pointer swing: the pointer never referenced log seq, so
      // readers never saw the dir and the retry may reclaim it (same
      // lazy rollback as BucketTable.rollbackOrphan); staged or
      // published cdc images at the dead writer's seq go with it
      val logDir = Paths.get(tablePath, s"log=$base.$seq")
      if (Files.exists(logDir)) deleteRecursively(logDir)
      CdcLog.discard(tablePath, seq)
      // cdc images are STAGED before the log write and published only
      // after the pointer swing (CdcLog's two-phase contract): a crash
      // anywhere in between leaves a real commit with missing images
      // (served loudly) — never published images of a commit that
      // didn't happen. The covering-index delta shares the same keyed
      // probe and reconciles AFTER the swing (an index ahead of the
      // commit would serve uncommitted rows; behind is merely stale).
      val cdcOn = CdcLog.enabled(tablePath)
      val idx = boundSecondaryIndexes(tablePath)
      val (flagged, images) =
        if (!cdcOn && idx.isEmpty) (flagged0, None)
        else {
          val f = flagged0.localCheckpoint()
          val ba = MaintProf.timed("mor.beforeAfter")(beforeAfter(tablePath, seq, f))
          if (cdcOn) CdcLog.stage(tablePath, seq,
            CdcLog.diff(ba._1, ba._2, props(tablePath).keys))
          (f, Some(ba))
        }
      MaintProf.timed("mor.logWrite")(UnitSchema.write(
        flagged.withColumn(SeqCol, lit(seq)), logDir.toString))
      logSeqTime(tablePath, seq)
      writePointer(tablePath, base, seq, floor)
      CdcLog.publish(tablePath, seq)
      for ((before, after) <- images; (secCols, idxPath) <- idx)
        SecondaryIndex.withMaintLock(idxPath) {
          MaintProf.timed("mor.reconcileCovering")(
            SecondaryIndex.reconcileCovering(flagged.sparkSession, idxPath,
              before, after, secCols, props(tablePath).keys))
          // the crash window between the pointer swing above and this
          // reconcile is caught by the covered-head serve check
          // (SecondaryIndex.ensureCurrent) — never a silent miss
          MaintProf.timed("mor.markCovered")(
            SecondaryIndex.markCoveredLocked(idxPath, seq))
        }
      seq
    }

  /** One commit's (before, after) row states for its touched keys: the
    * PRE-COMMIT merged snapshot restricted (null-safe) to the batch's
    * keys, and the MOR merge replayed over it plus the batch — exactly
    * what [[mergedSnapshot]] will serve, including an upsert losing
    * its precombine race (no change) and a tombstone retiring a live
    * row (the victim leaves the after side). Caller holds the table
    * lock with the pointer NOT yet swung. Cost: one keyed probe of the
    * merged snapshot per commit — the price of exact cdc images and a
    * current covering index on a layout whose plain upsert never reads
    * (Hudi pays it in the same place, tagging the batch at write).
    */
  private def beforeAfter(tablePath: String, seq: Long,
      flagged: DataFrame): (DataFrame, DataFrame) = {
    val spark = flagged.sparkSession
    val p = props(tablePath)
    // plain projection: `flagged` is precombined (one row per key) and
    // caller-checkpointed — the probe's semi-join build side needs no
    // dedup shuffle and no materialization job
    val keyset = flagged.select(p.keys.map(col): _*)
    val before = mergedSnapshotFor(spark, tablePath, keyset).localCheckpoint()
    val after = HudiLike.precombineLatest(
      SchemaShim.unionByName(before,
        flagged.withColumn(SeqCol, lit(seq))),
      p.keys, p.precombine, SeqCol +: p.tieBreak)
      .filter(!col(DelCol))
      .localCheckpoint()
    (before.drop(SeqCol, DelCol), after.drop(SeqCol, DelCol))
  }

  /** Turn on row-level CDC (Hudi 0.13 `hoodie.table.cdc.enabled`):
    * commits AFTER the current head get before/after images, served by
    * [[changesCdc]]. The consumer seeds from a snapshot and
    * checkpoints [[changeHead]] — images for older commits don't exist
    * and their window is refused loudly.
    */
  override def enableCdc(tablePath: String): Unit =
    CdcLog.enable(tablePath, changeHead(tablePath))

  /** The row-level CDC feed for `(sinceSeq, head]`: `_op` ∈ {i,u,d},
    * `_before_<c>`/`_after_<c>` images, `_change_seq`. Survives
    * compaction (images live outside the delta log) and fails loudly
    * on a cursor below the cdc floor or a window with missing images —
    * see [[CdcLog.changes]].
    */
  override def changesCdc(spark: SparkSession, tablePath: String,
      sinceSeq: Long): DataFrame =
    CdcLog.changes(spark, tablePath, sinceSeq, changeHead(tablePath))

  /** Upsert = append the batch as a delta log. Only the batch is
    * written — the base and earlier logs are untouched (the whole point
    * of MOR). The batch is precombined within itself so a log never
    * carries two rows for one key.
    */
  def upsertInto(tablePath: String, incoming: DataFrame): Long = {
    val p = props(tablePath)
    appendDelta(tablePath,
      HudiLike.precombineLatest(incoming, p.keys, p.precombine, p.tieBreak),
      deleted = false)
  }

  /** Delete = append tombstones. `deletes` must carry the key columns
    * plus a precombine value that outranks the rows it retires (Hudi's
    * `_hoodie_is_deleted` payload works the same way); non-key payload
    * columns are stamped NULL.
    */
  def deleteFrom(tablePath: String, deletes: DataFrame): Long =
    appendDelta(tablePath, deletes, deleted = true)

  /** Upserts AND tombstones as ONE delta log — one seq, one pointer
    * swing, so a statement carrying both (a conditional SQL MERGE with
    * a DELETE action) commits atomically: a reader sees all of it or
    * none of it, and a crash can never land the updates without the
    * deletes. Either side may be empty; tombstones' absent payload
    * columns null-fill exactly as [[deleteFrom]]'s do.
    */
  def upsertAndDelete(tablePath: String, upserts: DataFrame,
      deletes: DataFrame): Long = {
    val p = props(tablePath)
    appendFlagged(tablePath,
      SchemaShim.unionByName(
        HudiLike.precombineLatest(upserts, p.keys, p.precombine, p.tieBreak)
          .withColumn(DelCol, lit(false)),
        deletes.withColumn(DelCol, lit(true))))
  }

  /** Snapshot query: base ∪ logs, latest-per-key merge, tombstones
    * dropped. One union (no shuffle) + one per-key window — the merge
    * cost MOR moves from every write to each read.
    */
  def readSnapshot(spark: SparkSession, tablePath: String): DataFrame =
    mergedSnapshot(spark, tablePath).drop(SeqCol, DelCol)

  /** Snapshot with Hudi-style META COLUMNS (the `_hoodie_commit_seqno`
    * / `_hoodie_record_key` surface every Hudi reader gets for free):
    * `_commit_seq` — the commit that wrote each SURVIVING row (0 = the
    * compacted base, N = delta log N), `_record_key` — the record key
    * as one string (composite keys comma-joined, Hudi's own encoding).
    * Same merge plan as [[readSnapshot]]; the provenance columns are
    * carried, not recomputed.
    */
  def readSnapshotWithMeta(spark: SparkSession, tablePath: String): DataFrame = {
    val p = props(tablePath)
    mergedSnapshot(spark, tablePath)
      .withColumn("_record_key",
        concat_ws(",", p.keys.map(k => col(k).cast("string")): _*))
      .withColumnRenamed(SeqCol, "_commit_seq")
      .drop(DelCol)
  }

  private def mergedSnapshot(spark: SparkSession, tablePath: String): DataFrame = {
    val (base, head, floor) = fullState(tablePath).getOrElse(
      throw new IllegalStateException(s"no MOR table at $tablePath"))
    mergedRange(spark, tablePath, base, floor, head)
  }

  /** [[mergedSnapshot]] restricted to `keyset`'s keys BEFORE the merge
    * window: base and logs semi-join to the batch's keys first (null-
    * safe, unhinted — AQE broadcasts a small keyset), so the precombine
    * window runs over O(batch) rows instead of O(table) — the per-commit
    * probe a 100 TB table can afford. Row-identical to
    * `mergedSnapshot ⋉ keyset`: the window partitions by exactly the
    * restriction keys, so dropping other keys' rows changes nothing for
    * the keys that survive.
    */
  private def mergedSnapshotFor(spark: SparkSession, tablePath: String,
      keyset: DataFrame): DataFrame = {
    val (base, head, floor) = fullState(tablePath).getOrElse(
      throw new IllegalStateException(s"no MOR table at $tablePath"))
    val p = props(tablePath)
    val baseDf = baseFrame(spark, tablePath, base)
      .withColumn(SeqCol, lit(0L)).withColumn(DelCol, lit(false))
    val all = ((floor + 1) to head).foldLeft(baseDf) { (acc, s) =>
      SchemaShim.unionByName(acc,
        UnitSchema.read(spark, s"$tablePath/log=$base.$s"))
    }
    val cond = p.keys.map(k => all(k) <=> keyset(k)).reduce(_ && _)
    val restricted = all.join(keyset, cond, "left_semi")
    HudiLike.precombineLatest(restricted, p.keys, p.precombine,
      SeqCol +: p.tieBreak)
      .filter(!col(DelCol))
  }

  /** The merge plan over ONE base generation and its logs in
    * `(floor, to]` — [[mergedSnapshot]] instantiates it at the live
    * pointer, [[readVersion]] at a historical (base, seq) resolution.
    */
  private def mergedRange(spark: SparkSession, tablePath: String,
      base: Long, floor: Long, to: Long): DataFrame = {
    val p = props(tablePath)
    val baseDf = baseFrame(spark, tablePath, base)
      .withColumn(SeqCol, lit(0L)).withColumn(DelCol, lit(false))
    val merged = ((floor + 1) to to).foldLeft(baseDf) { (acc, s) =>
      // logs may be schema-sparse (tombstones carry NULL payload cols)
      SchemaShim.unionByName(acc,
        UnitSchema.read(spark, s"$tablePath/log=$base.$s"))
    }
    // _seq as the leading tie-break: on equal precombine the later
    // commit wins, so deltas shadow the base rows they replace
    HudiLike.precombineLatest(merged, p.keys, p.precombine,
      SeqCol +: p.tieBreak)
      .filter(!col(DelCol))
  }

  /** Read the snapshot AS OF change sequence `seq` — `SELECT ...
    * VERSION AS OF` on the MOR layout, and deliberately in the SAME
    * domain as [[incrementalRead]]'s cursors: `readVersion(c)` is
    * exactly the snapshot a consumer checkpointed at `c` holds, so
    * `readVersion(c)` + the `(c, head]` feed replays to the live
    * snapshot (CdcReplayProps pins it). Resolution: the base
    * generation current at `seq` (the newest `_history` line with
    * floor <= seq) merged with its logs in `(floor, seq]` — all
    * immutable dirs, readable until [[clean]] reclaims them; a
    * reclaimed version fails loudly, never serves a partial snapshot.
    */
  def readVersion(spark: SparkSession, tablePath: String,
      seq: Long): DataFrame = {
    val (_, head, _) = fullState(tablePath).getOrElse(
      throw new IllegalStateException(s"no MOR table at $tablePath"))
    require(seq >= 0 && seq <= head,
      s"VERSION AS OF $seq at $tablePath: change seqs run 0..$head")
    val hist0 = baseHistory(tablePath)
    require(hist0.exists(h => h._1 == 0L && h._2 == 0L),
      s"the base history at $tablePath does not cover the table's " +
        "birth (created before history logging) — historical reads " +
        "need a from-birth record")
    // a compact that crashed between its history append and pointer
    // swing leaves a line whose base dir a LATER retry overwrote —
    // keep only the LAST line per base (it describes the dir's current
    // content); the abandoned window resolves through the predecessor
    // base, whose log dirs kept accumulating until the retry's swing
    val hist = hist0.zipWithIndex
      .groupBy { case ((b, _, _), _) => b }
      .map { case (_, vs) => vs.maxBy(_._2)._1 }.toSeq
    val (base, floor, _) = hist.filter(_._2 <= seq)
      .maxBy(h => (h._2, h._1))
    val missing =
      (if (base == 0L && Files.exists(bootstrapPath(tablePath))) Seq.empty
       else if (!Files.exists(Paths.get(tablePath, s"base=$base")))
         Seq(s"base=$base")
       else Seq.empty) ++
        ((floor + 1) to seq).filterNot(s =>
          Files.exists(Paths.get(tablePath, s"log=$base.$s")))
          .map(s => s"log=$base.$s")
    require(missing.isEmpty,
      s"VERSION AS OF $seq at $tablePath: dir(s) ${missing.mkString(",")} " +
        "were reclaimed by clean — clean less aggressively to keep " +
        "historical versions readable")
    mergedRange(spark, tablePath, base, floor, seq).drop(SeqCol, DelCol)
  }

  /** Read-optimized query: the base alone — no merge, no window, stale
    * by up to the compaction lag (Hudi's `_ro` view).
    */
  def readOptimized(spark: SparkSession, tablePath: String): DataFrame = {
    val (base, _) = state(tablePath).getOrElse(
      throw new IllegalStateException(s"no MOR table at $tablePath"))
    baseFrame(spark, tablePath, base)
  }

  /** Incremental pull: every record appended after log sequence
    * `sinceSeq` (tombstones included, `_deleted` exposed). Reads ONLY
    * the new log files — O(changes), no diff join, no base scan: the
    * reason a MOR table is the natural upstream of an incremental
    * pipeline.
    */
  def incrementalRead(spark: SparkSession, tablePath: String, sinceSeq: Long): DataFrame = {
    val (base, head, floor) = fullState(tablePath).getOrElse(
      throw new IllegalStateException(s"no MOR table at $tablePath"))
    require(sinceSeq <= head, s"sinceSeq $sinceSeq > latest change seq $head")
    // the cursor's unseen window was folded into the base (compaction)
    // or superseded wholesale (insert overwrite): the per-commit feed
    // for (sinceSeq, floor] no longer exists — fail loudly toward a
    // snapshot re-sync instead of silently skipping the folded window
    require(sinceSeq >= floor,
      s"incremental cursor $sinceSeq predates the compaction floor " +
        s"$floor at $tablePath — the unseen window was folded into the " +
        "base; re-sync from a snapshot read and checkpoint changeHead")
    val logs = ((sinceSeq + 1) to head).map(s =>
      UnitSchema.read(spark, s"$tablePath/log=$base.$s"))
    logs.reduceLeftOption(SchemaShim.unionByName)
      .getOrElse(readOptimized(spark, tablePath).limit(0)
        .withColumn(SeqCol, lit(0L)).withColumn(DelCol, lit(false)))
  }

  /** Compaction: fold the logs into a new base (snapshot read → write
    * `base=N+1`, live delta count resets to 0). Old base + logs stay on
    * disk immutable until [[clean]] — a reader holding the old pointer
    * keeps working, as in Hudi. The change-seq HEAD is carried forward
    * and the floor ratchets to it: seq numbering NEVER restarts, so a
    * consumer checkpointed at the pre-compaction head pulls an empty
    * (correct) window, and one checkpointed below it fails loudly in
    * [[incrementalRead]] instead of silently receiving a renumbered
    * feed. Returns the new base version.
    */
  def compact(spark: SparkSession, tablePath: String): Long =
    // same lock as appendDelta: an append landing between the snapshot
    // read and the pointer swing would be silently dropped by the new
    // (base, 0) pointer. Compaction holds the lock for its whole
    // rewrite — the coarse-but-safe schedule; writers queue behind it
    // exactly as they do behind Hudi's table-level lock when inline
    // compaction runs
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val (base, head, _) = fullState(tablePath).getOrElse(
        throw new IllegalStateException(s"no MOR table at $tablePath"))
      val next = base + 1
      UnitSchema.write(readSnapshot(spark, tablePath), s"$tablePath/base=$next",
        mode = "overwrite")
      logBase(tablePath, next, head, "compact")
      writePointer(tablePath, next, head, head)
      next
    }

  /** Hudi's clustering on a MOR table: the layout is one file group,
    * so clustering SCHEDULES AS a compaction — fold base + pending
    * delta logs into a new base generation written range-partitioned
    * and sorted by `sortCols`, so file-level zone maps tighten exactly
    * as the bucket/bloom/partitioned `cluster` restates do (Hudi
    * likewise runs MOR clustering as a replacecommit superseding the
    * file slices it rewrites; here the base generation IS the file
    * slice). Content-preserving: no change seq is consumed, cdc
    * cursors and the covering index's covered head stay valid — the
    * same contract as [[compact]], which this is, plus the sort.
    * Returns the new base generation.
    */
  def cluster(spark: SparkSession, tablePath: String, sortCols: Seq[String],
      targetFileRows: Long): Long =
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      require(sortCols.nonEmpty, "at least one clustering sort column")
      val (base, head, _) = fullState(tablePath).getOrElse(
        throw new IllegalStateException(s"no MOR table at $tablePath"))
      val snap = readSnapshot(spark, tablePath).localCheckpoint()
      val files = math.max(1L,
        (snap.count() + targetFileRows - 1) / targetFileRows).toInt
      val next = base + 1
      UnitSchema.write(snap.repartitionByRange(files, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*), s"$tablePath/base=$next",
        mode = "overwrite")
      logBase(tablePath, next, head, "cluster")
      writePointer(tablePath, next, head, head)
      next
    }

  /** Hudi's `insert_overwrite_table` on a MOR table: the
    * precombine-deduped batch becomes a NEW base generation with zero
    * delta logs — one pointer swing. Same lock discipline as
    * [[compact]] (an append landing between the write and the swing
    * would be dropped by the new pointer); the previous base + logs
    * stay immutable for in-flight readers until [[clean]].
    */
  def overwriteTable(tablePath: String, incoming: DataFrame): Long =
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val (base, head, _) = fullState(tablePath).getOrElse(
        throw new IllegalStateException(s"no MOR table at $tablePath"))
      val p = props(tablePath)
      val batch = HudiLike.precombineLatest(incoming, p.keys, p.precombine,
        p.tieBreak).localCheckpoint()
      // same guard as the bucket/bloom overwrites: the statement must
      // behave identically across layouts, and a pipeline bug producing
      // an empty batch must not silently empty the table
      require(!batch.isEmpty,
        s"INSERT OVERWRITE with an empty batch at $tablePath — " +
          "DELETE the rows instead")
      val next = base + 1
      UnitSchema.write(batch, s"$tablePath/base=$next", mode = "overwrite")
      // the overwrite CONSUMES a change seq and ratchets the floor past
      // every pre-overwrite cursor: a full restate invalidates the
      // row-level feed (no per-commit diff exists for it), so even a
      // consumer checkpointed at the old head must re-sync loudly
      // rather than silently miss the restatement — the cdc image
      // floor ratchets with it
      CdcLog.ratchet(tablePath, head + 1)
      logBase(tablePath, next, head + 1, "overwrite")
      logSeqTime(tablePath, head + 1)
      writePointer(tablePath, next, head + 1, head + 1)
      // bound covering indexes are rebuilt from the replacement —
      // proportionate, the verb itself replaced the whole table
      boundSecondaryIndexes(tablePath).foreach { case (_, idxPath) =>
        SecondaryIndex.rebuildMorCovering(incoming.sparkSession, tablePath,
          idxPath)
      }
      next
    }

  // ---- savepoints (the pin file family is TableLayout's) -------------

  /** A MOR savepoint pins the (base, head, floor) triple that resolves
    * the current snapshot — [[clean]] then keeps the pinned base
    * generation and the `(floor, head]` delta logs alive however
    * aggressive retention gets.
    */
  protected def savepointBody(tablePath: String): String = {
    val (base, head, floor) = fullState(tablePath).getOrElse(
      throw new IllegalStateException(s"no MOR table at $tablePath"))
    s"$base $head $floor\n"
  }

  private def savepointState(tablePath: String,
      name: String): (Long, Long, Long) =
    savepointLines(tablePath, name).mkString(" ").trim.split(' ') match {
      case Array(b, h, f) => (b.toLong, h.toLong, f.toLong)
      case _ => throw new IllegalStateException(
        s"malformed savepoint $name at $tablePath")
    }

  /** The pinned base merged with the pinned delta window — no
    * live-pointer involvement. Loud if any pinned dir vanished (only
    * possible by external deletion — [[clean]] treats pinned dirs as
    * live).
    */
  def readSavepoint(spark: SparkSession, tablePath: String,
      name: String): DataFrame = {
    val (base, head, floor) = savepointState(tablePath, name)
    val missing =
      (if (base == 0L && Files.exists(bootstrapPath(tablePath))) Seq.empty
       else if (!Files.exists(Paths.get(tablePath, s"base=$base")))
         Seq(s"base=$base")
       else Seq.empty) ++
        ((floor + 1) to head).filterNot(s =>
          Files.exists(Paths.get(tablePath, s"log=$base.$s")))
          .map(s => s"log=$base.$s")
    require(missing.isEmpty,
      s"savepoint $name at $tablePath: pinned dir(s) " +
        s"${missing.mkString(",")} are gone — the savepoint no longer " +
        "resolves")
    mergedRange(spark, tablePath, base, floor, head).drop(SeqCol, DelCol)
  }

  /** NOT a metadata truncation: the change-seq head is globally
    * monotonic by contract (a CDC cursor must never alias into
    * renumbered commits), and truncating logs back to the pinned seq
    * would hand the SAME seq numbers to different future content. The
    * restore therefore RESTATES: the pinned snapshot becomes a new base
    * generation via [[overwriteTable]] — one seq consumed, the cdc
    * floor ratcheted (consumers re-sync loudly, as after any full
    * restate), bound covering indexes rebuilt inside it. Commits after
    * the savepoint become unreferenced debris for [[clean]].
    */
  def restoreSavepoint(spark: SparkSession, tablePath: String,
      name: String): Unit = {
    overwriteTable(tablePath, readSavepoint(spark, tablePath, name)
      .localCheckpoint())
    ()
  }

  def changeCounts(tablePath: String): (Long, Long, Long) = {
    val (_, h, fl) = fullState(tablePath).getOrElse((0L, 0L, 0L))
    (h - fl, h, fl)
  }

  /** Retention: delete base/log dirs of generations older than the
    * current base. Never touches the live generation. `keepVersions >
    * 0` additionally retains every base+log dir the newest
    * `keepVersions` change seqs' snapshots resolve through (Hudi's
    * KEEP_LATEST_COMMITS cleaner policy) — `VERSION AS OF` is then
    * GUARANTEED inside the retention window, loud outside it.
    */
  def clean(tablePath: String, keepVersions: Int): Seq[String] = {
    val (base, _) = state(tablePath).getOrElse(return Seq.empty)
    val head = changeHead(tablePath)
    // resolve each retained seq the way readVersion does: the newest
    // deduped history line with floor <= seq names the base; the logs
    // (floor, seq] ride it
    val keep: Set[String] =
      if (keepVersions <= 0) Set.empty
      else {
        val hist0 = baseHistory(tablePath)
        require(hist0.exists(h => h._1 == 0L && h._2 == 0L),
          s"clean($tablePath, keepVersions=$keepVersions): the base " +
            "history does not cover the table's birth (created before " +
            "history logging) — retention needs a from-birth record")
        val hist = hist0.zipWithIndex
          .groupBy { case ((b, _, _), _) => b }
          .map { case (_, vs) => vs.maxBy(_._2)._1 }.toSeq
        (math.max(0L, head - keepVersions + 1) to head).flatMap { c =>
          val (b, f, _) = hist.filter(_._2 <= c).maxBy(h => (h._2, h._1))
          s"base=$b" +: ((f + 1) to c).map(sq => s"log=$b.$sq")
        }.toSet
      }
    // savepoint-pinned dirs count as live — the pin IS the contract
    val pinned: Set[String] = savepoints(tablePath).flatMap { n =>
      val (b, h, f) = savepointState(tablePath, n)
      s"base=$b" +: ((f + 1) to h).map(sq => s"log=$b.$sq")
    }.toSet
    val s = Files.list(Paths.get(tablePath))
    val stale =
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        ((n.startsWith("base=") && n.drop(5).toLong < base) ||
          (n.startsWith("log=") && n.drop(4).takeWhile(_ != '.').toLong < base)) &&
          !keep(n) && !pinned(n)
      }.toSeq
      finally s.close()
    stale.foreach(deleteRecursively)
    stale.map(_.getFileName.toString)
  }
}
