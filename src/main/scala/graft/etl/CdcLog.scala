package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Row-level CDC with before/after images — the Hudi 0.13
  * `hoodie.table.cdc.enabled` surface (RFC-51: a supplemental cdc log
  * per commit carrying `op` ∈ {i,u,d} plus before/after images,
  * queryable alongside the table; the reference pipeline inherits the
  * writer this hooks, pipeline_architecture.py:245). The restatement
  * feeds ([[BucketTable.changedSince]]) and post-image feeds
  * ([[MorTable.incrementalRead]]) cannot express a deletion's victim
  * or an update's prior value; this log can, making every layout's
  * change feed EXACT.
  *
  * Shared machinery for all layouts:
  *
  *   - `_cdc`      a floor file. Presence = cdc enabled; content = the
  *                 highest commit seq whose cdc images are NOT served
  *                 (enabled-at seq, or ratcheted past by a destructive
  *                 commit — an overwrite/restore has no row-level diff,
  *                 so every older cursor must re-sync loudly).
  *   - `cdc=<seq>/` one dir per commit once enabled: parquet of the
  *                 commit's diff rows, or a bare `_empty` marker for a
  *                 content-preserving commit (compact/cluster/rescale —
  *                 the dir must exist so a missing one is always loud).
  *
  * TWO-PHASE COMMIT DISCIPLINE: [[stage]] writes `cdc=<seq>.tmp`
  * BEFORE the layout's commit point (log append / manifest swing /
  * pointer swing) and [[publish]] renames it to `cdc=<seq>` AFTER. A
  * crash on either side leaves at worst a commit whose cdc dir is
  * missing — [[changes]] fails that window loudly toward a snapshot
  * re-sync — and never a published image of a commit that didn't
  * happen (the phantom would serve FALSE changes, the one failure mode
  * a change-data feed must not have).
  *
  * Diff rows are FLAT (`_before_<c>` / `_after_<c>` per non-key
  * column), not structs: struct field order is fragile across schema
  * evolution and the flat shape is directly comparable in any engine.
  */
object CdcLog {

  val OpCol = "_op"
  val SeqCol = "_change_seq"
  val BeforePrefix = "_before_"
  val AfterPrefix = "_after_"

  /** How a commit's row-level images are produced. Layouts whose
    * commit point allocates the commit number (BucketTable's manifest
    * swing) take one of these per commit — making every swing DECLARE
    * its cdc behavior is what keeps a new write path from silently
    * publishing nothing.
    */
  sealed trait Action
  object Action {
    /** Content-changing commit: the thunk computes the diff rows —
      * evaluated only when cdc is enabled (the thunk may read files,
      * so the disabled path must stay free).
      */
    final case class Changes(rows: () => DataFrame) extends Action
    /** Content-preserving restatement (compact / cluster / rescale):
      * an empty image set, but the dir still exists so window checks
      * stay exact.
      */
    case object Preserving extends Action
    /** Destructive restate (overwrite / savepoint restore): no
      * row-level diff exists — the floor ratchets past every cursor.
      */
    case object Destructive extends Action
  }

  private def flagPath(tablePath: String): Path = Paths.get(tablePath, "_cdc")
  private def dirPath(tablePath: String, seq: Long): Path =
    Paths.get(tablePath, s"cdc=$seq")
  private def tmpPath(tablePath: String, seq: Long): Path =
    Paths.get(tablePath, s"cdc=$seq.tmp")
  private val EmptyMarker = "_empty"

  def enabled(tablePath: String): Boolean = Files.exists(flagPath(tablePath))

  /** The cdc floor: commits at or below it have no served images. */
  def floor(tablePath: String): Long = {
    require(enabled(tablePath), s"cdc is not enabled at $tablePath")
    Files.readString(flagPath(tablePath)).trim.toLong
  }

  /** Enable cdc with the floor at `atSeq` (the table's current change
    * head): images are captured for commits AFTER it — a consumer
    * seeds from a snapshot and checkpoints the head, same contract as
    * every other incremental feed here. Idempotent re-enable keeps the
    * existing floor (re-enabling must not un-invalidate cursors a
    * destructive commit already ratcheted past).
    */
  def enable(tablePath: String, atSeq: Long): Unit =
    if (!enabled(tablePath)) writeFloor(tablePath, atSeq)

  /** Ratchet the floor UP to `seq` — a destructive commit (overwrite /
    * savepoint restore) has no row-level diff, so every cursor below
    * it must fail loudly. No-op when cdc is off or `seq` is behind.
    */
  def ratchet(tablePath: String, seq: Long): Unit =
    if (enabled(tablePath) && seq > floor(tablePath))
      writeFloor(tablePath, seq)

  private def writeFloor(tablePath: String, seq: Long): Unit = {
    val tmp = Paths.get(tablePath, s"_cdc.tmp${System.nanoTime()}")
    Files.writeString(tmp, seq.toString,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, flagPath(tablePath), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Null-safe keyed diff of two SAME-TABLE snapshots (commit N-1 vs
    * commit N, restricted by the caller to the region the commit could
    * have touched): one full-outer join on the keys →
    *
    *   - key only in `after`            → `i` (before image all-null)
    *   - key in both, any column differs → `u`
    *   - key only in `before`           → `d` (after image all-null)
    *   - key in both, identical         → no row (the feed describes
    *     snapshot TRANSITIONS, not write attempts — an upsert that lost
    *     its precombine race changed nothing and emits nothing)
    *
    * Schemas are aligned by name first (schema evolution may give the
    * sides different widths); the join is null-safe so null-keyed rows
    * diff correctly (they are routable/bucketable everywhere else).
    */
  def diff(before: DataFrame, after: DataFrame, keys: Seq[String]): DataFrame = {
    // align both sides to the union schema (missing columns -> null)
    val b0 = before.unionByName(after.limit(0), allowMissingColumns = true)
    val a0 = after.unionByName(before.limit(0), allowMissingColumns = true)
    val dataCols = b0.columns.filterNot(keys.contains).toSeq
    val b = b0.select(
      keys.map(k => col(k).as(s"__bk_$k")) ++
        dataCols.map(c => col(c).as(BeforePrefix + c)) :+
        lit(true).as("__bp"): _*)
    val a = a0.select(
      keys.map(k => col(k).as(s"__ak_$k")) ++
        dataCols.map(c => col(c).as(AfterPrefix + c)) :+
        lit(true).as("__ap"): _*)
    val cond = keys.map(k => b(s"__bk_$k") <=> a(s"__ak_$k")).reduce(_ && _)
    val j = b.join(a, cond, "full_outer")
    val op = when(col("__bp").isNull, lit("i"))
      .when(col("__ap").isNull, lit("d"))
      .otherwise(lit("u"))
    val changed = dataCols.map(c =>
      !(col(BeforePrefix + c) <=> col(AfterPrefix + c)))
      .reduceOption(_ || _).getOrElse(lit(false))
    j.withColumn(OpCol, op)
      .filter(col(OpCol) =!= "u" || changed)
      .select(
        keys.map(k => coalesce(col(s"__bk_$k"), col(s"__ak_$k")).as(k)) ++
          dataCols.map(c => col(BeforePrefix + c)) ++
          dataCols.map(c => col(AfterPrefix + c)) :+
          col(OpCol): _*)
  }

  /** Stage commit `seq`'s diff rows at `cdc=<seq>.tmp` — call BEFORE
    * the layout's commit point; [[publish]] after it. A re-staged seq
    * (crashed writer's retry) replaces the orphan.
    */
  def stage(tablePath: String, seq: Long, rows: DataFrame): Unit = {
    val tmp = tmpPath(tablePath, seq)
    discard(tablePath, seq) // orphans from a crashed writer at this seq
    UnitSchema.write(rows.withColumn(SeqCol, lit(seq)), tmp.toString)
  }

  /** Stage a content-preserving commit (compact / cluster / rescale):
    * the dir exists (so the window check stays exact) but carries no
    * parquet — just the `_empty` marker.
    */
  def stageEmpty(tablePath: String, seq: Long): Unit = {
    val tmp = tmpPath(tablePath, seq)
    discard(tablePath, seq)
    Files.createDirectories(tmp)
    Files.writeString(tmp.resolve(EmptyMarker), "",
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** Make commit `seq`'s staged images live — call AFTER the layout's
    * commit point succeeded.
    */
  def publish(tablePath: String, seq: Long): Unit = {
    val tmp = tmpPath(tablePath, seq)
    if (Files.exists(tmp))
      Files.move(tmp, dirPath(tablePath, seq), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Remove any staged or published images at `seq` — the writer-retry
    * orphan reclaim (the caller holds the table lock and has
    * established that commit `seq` never happened).
    */
  def discard(tablePath: String, seq: Long): Unit = {
    if (Files.exists(tmpPath(tablePath, seq)))
      FsUtil.deleteRecursively(tmpPath(tablePath, seq))
    if (Files.exists(dirPath(tablePath, seq)))
      FsUtil.deleteRecursively(dirPath(tablePath, seq))
  }

  /** The cdc feed for the window `(since, head]`: op + before/after
    * images of every row-changing commit in it, `_change_seq`-stamped.
    * Loud when the cursor predates the floor (enabled later, or a
    * destructive commit in between) and when any commit in the window
    * is missing its images (cleaned, or a writer crashed between its
    * commit point and [[publish]]) — under-delivering silently is the
    * one thing this feed must never do.
    */
  def changes(spark: SparkSession, tablePath: String, since: Long,
      head: Long): DataFrame = {
    val f = floor(tablePath)
    require(since >= f,
      s"cdc cursor $since predates the cdc floor $f at $tablePath " +
        "(images start after enablement, and a destructive commit " +
        "ratchets past every cursor) — re-sync from a snapshot read " +
        "and checkpoint the change head")
    require(since <= head,
      s"cdc cursor $since past the change head $head at $tablePath — " +
        "checkpoint only heads the table has served")
    val window = (since + 1) to head
    val missing = window.filterNot(s => Files.exists(dirPath(tablePath, s)))
    require(missing.isEmpty,
      s"cdc images for commit(s) ${missing.mkString(",")} at $tablePath " +
        "are missing (retention removed them, or the writer crashed " +
        "before publishing) — re-sync from a snapshot read and " +
        "checkpoint the change head")
    val dirs = window.map(dirPath(tablePath, _))
      .filterNot(d => Files.exists(d.resolve(EmptyMarker)))
    dirs.map(d => UnitSchema.read(spark, d.toString))
      .reduceLeftOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(emptyFeedFrom(spark, tablePath, head))
  }

  /** An empty feed with the RIGHT schema: prefer any published cdc dir
    * (limit 0); a freshly-enabled table with no images yet serves a
    * minimal (keys-free) empty frame — the consumer sees zero rows
    * either way, and the first real image fixes the schema.
    */
  private def emptyFeedFrom(spark: SparkSession, tablePath: String,
      head: Long): DataFrame = {
    val any = (head to math.max(0L, head - 64L) by -1L)
      .map(dirPath(tablePath, _))
      .find(d => Files.exists(d) && !Files.exists(d.resolve(EmptyMarker)))
    any.map(d => UnitSchema.read(spark, d.toString).limit(0)).getOrElse {
      import spark.implicits._
      Seq.empty[(String, Long)].toDF(OpCol, SeqCol)
    }
  }

  /** Retention: drop images at or below `upToSeq`, ratcheting the
    * floor FIRST (ratchet-before-remove: a crash between the two
    * leaves a floor ahead of still-intact images — a spurious loud
    * re-sync, never a silent skip).
    */
  def retain(tablePath: String, upToSeq: Long): Seq[Long] = {
    ratchet(tablePath, upToSeq)
    val s = Files.list(Paths.get(tablePath))
    val old =
      try s.iterator().asScala
        .filter(_.getFileName.toString.matches("cdc=\\d+"))
        .map(p => (p, p.getFileName.toString.drop(4).toLong))
        .filter(_._2 <= upToSeq).toSeq
      finally s.close()
    old.foreach(p => FsUtil.deleteRecursively(p._1))
    old.map(_._2).sorted
  }
}
