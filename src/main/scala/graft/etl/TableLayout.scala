package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** The table-format services every layout shares — the role Hudi's
  * `HoodieTable`/`HoodieTableMetaClient` core plays for its table
  * types. [[BucketTable]], [[BloomTable]], [[PartitionedTable]],
  * [[MorTable]] and [[Timeline]] each extend it and supply only how
  * they write and what their state is; the file families below are
  * defined here once:
  *   - savepoints: one `_savepoint_<name>` pin file per savepoint,
  *     published by tmp-then-`ATOMIC_MOVE`; its body is the layout's
  *     own ([[savepointBody]]), and so are reading and restoring it;
  *   - secondary-index bindings: the `_secidx` table-dir file every
  *     write path maintains its bound indexes from;
  *   - the `_commits` line log's archival, and `show_commits`.
  * The SQL front doors reach a layout through [[Layout.of]], one
  * lookup instead of a per-verb match over layout names.
  */
trait TableLayout {

  /** The `graft.table.layout` name tables of this layout register. */
  def kind: String

  // ---- savepoints ------------------------------------------------------

  private val SavepointPrefix = "_savepoint_"
  private val SavepointName = "[A-Za-z0-9_-]+"

  private def savepointPath(tablePath: String, name: String): Path = {
    require(name.matches(SavepointName), s"invalid savepoint name: $name")
    Paths.get(tablePath, SavepointPrefix + name)
  }

  /** What a savepoint of the CURRENT committed state pins — the pin
    * file's body; loud when there is nothing committed to pin.
    */
  protected def savepointBody(tablePath: String): String

  /** Pin the current committed state under `name` (Hudi's savepoint):
    * [[clean]] treats what the pin references as live. O(metadata), no
    * data copied.
    */
  def savepoint(tablePath: String, name: String): Unit = {
    val p = savepointPath(tablePath, name)
    require(!Files.exists(p), s"savepoint $name already exists")
    val body = savepointBody(tablePath)
    val tmp = Paths.get(tablePath, s"${SavepointPrefix}.tmp${System.nanoTime()}")
    Files.writeString(tmp, body,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Savepoint names currently pinned (none on a missing table dir). */
  def savepoints(tablePath: String): Seq[String] = {
    val dir = Paths.get(tablePath)
    if (!Files.exists(dir)) return Seq.empty
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(SavepointPrefix) &&
        n.drop(SavepointPrefix.length).matches(SavepointName))
      .map(_.drop(SavepointPrefix.length)).toSeq.sorted
    finally s.close()
  }

  /** The non-empty lines of savepoint `name`'s pin file; loud when no
    * such savepoint exists.
    */
  protected def savepointLines(tablePath: String, name: String): Seq[String] = {
    val p = savepointPath(tablePath, name)
    require(Files.exists(p), s"no savepoint $name at $tablePath")
    Files.readAllLines(p).asScala.filter(_.nonEmpty).toSeq
  }

  /** Unpin a savepoint; what it referenced becomes reclaimable by
    * [[clean]] unless the live state or another savepoint still
    * references it.
    */
  def dropSavepoint(tablePath: String, name: String): Unit = {
    Files.deleteIfExists(savepointPath(tablePath, name))
    ()
  }

  /** Read the table AS OF a savepoint, live state untouched. */
  def readSavepoint(spark: SparkSession, tablePath: String,
      name: String): DataFrame

  /** Roll the table back to a savepoint (Hudi's restore). */
  def restoreSavepoint(spark: SparkSession, tablePath: String,
      name: String): Unit

  /** Whether every superseded version stays readable by time travel:
    * `show_fsview` then counts the non-live files as history, none as
    * pinned or debris.
    */
  def keepsHistory: Boolean = false

  // ---- retention, history, time travel ---------------------------------

  /** File-level retention: drop what neither the live state, a
    * savepoint nor the newest `keepVersions` versions reference.
    * Returns what was removed.
    */
  def clean(tablePath: String, keepVersions: Int = 0): Seq[String]

  /** Fold all but the newest `keepLatest` active `_commits` lines into
    * `_commits_archive` ([[CommitLogFile.archive]]): bounds the active
    * log every commit and pull reads; old cursors and `TIMESTAMP AS OF`
    * resolve through the archive. Locked: the active-log rewrite would
    * race writers' appends. Returns the commit numbers archived.
    */
  def archiveCommits(tablePath: String, keepLatest: Int): Seq[Long] =
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      CommitLogFile.archive(tablePath, keepLatest)
    }

  /** `CALL show_commits`: the commit history, archived commits
    * included, oldest first — answered by the parser beside the
    * layout's own log writer.
    */
  def showCommits(spark: SparkSession, tablePath: String): DataFrame

  /** The `show_commits` frame of the line-log layouts: one (version,
    * action, ts_ms) row per commit; `ts_ms` is -1 on commits logged
    * before timestamps were.
    */
  protected def commitFrame(spark: SparkSession,
      commits: Seq[(Long, String, Long)]): DataFrame =
    spark.createDataFrame(commits.sortBy(_._1)).toDF("version", "action", "ts_ms")

  /** `TIMESTAMP AS OF` resolution: the newest version committed at or
    * before `tsMs` ([[CommitLogFile.newestAtOrBefore]]).
    */
  def resolveAsOf(tablePath: String, tsMs: Long): Long

  /** `VERSION AS OF`: the table as of `version` in the layout's own
    * version domain.
    */
  def readVersion(spark: SparkSession, tablePath: String,
      version: Long): DataFrame

  /** `show_fsview`'s change counters: (delta commits a snapshot read
    * must merge, the change head, the compacted-through floor).
    */
  def changeCounts(tablePath: String): (Long, Long, Long)

  /** Rewrite the live state sorted by `sortCols` (Hudi clustering);
    * returns the generation or version written.
    */
  def cluster(spark: SparkSession, tablePath: String, sortCols: Seq[String],
      targetFileRows: Long = 4000000L): Long

  // ---- change-data capture ---------------------------------------------

  private def noCdc(verb: String): Nothing =
    throw new IllegalArgumentException(
      s"$verb: image-logging is implemented for mor | bucket | bloom | " +
        s"partitioned layouts; layout: $kind")

  /** Turn on before/after image logging (Hudi 0.13 cdc mode). */
  def enableCdc(tablePath: String): Unit = noCdc("enable_cdc")

  /** The image feed after `since` in the layout's change domain. */
  def changesCdc(spark: SparkSession, tablePath: String,
      since: Long): DataFrame = noCdc("table_changes(..., 'cdc')")

  // ---- secondary-index bindings (see SecondaryIndex) -------------------

  private def secIdxPath(tablePath: String): Path =
    Paths.get(tablePath, "_secidx")

  /** The bound secondary indexes: (secondary cols, index path) per
    * index — a table may bind several, one per query pattern.
    * Engine-level (a table-dir file, not catalog state), so every
    * mutation primitive maintains them, programmatic writers included.
    */
  def boundSecondaryIndexes(tablePath: String): Seq[(Seq[String], String)] =
    SecondaryIndex.readBindings(secIdxPath(tablePath))

  def bindSecondaryIndex(tablePath: String, secCols: Seq[String],
      indexPath: String): Unit =
    SecondaryIndex.addBinding(secIdxPath(tablePath), secCols, indexPath)

  /** Unbind every index (test/repair helper). */
  def unbindSecondaryIndex(tablePath: String): Unit = {
    Files.deleteIfExists(secIdxPath(tablePath))
    ()
  }

  /** Unbind one index by its artifact path (DROP INDEX). */
  def unbindSecondaryIndex(tablePath: String, indexPath: String): Unit =
    SecondaryIndex.removeBinding(secIdxPath(tablePath), indexPath)

  /** Every engine-bound index artifact as (index type, path) — what
    * `reconcile_index` brings current.
    */
  def boundIndexArtifacts(tablePath: String): Seq[(String, String)] =
    boundSecondaryIndexes(tablePath).map { case (_, idx) => ("secondary", idx) }
}

/** The one lookup from a catalog table to its layout. */
object Layout {

  private val byKind: Map[String, TableLayout] =
    Seq(BucketTable, BloomTable, PartitionedTable, MorTable, Timeline)
      .map(l => l.kind -> l).toMap

  /** The layout registered as `kind`, if it is one of the five. */
  def named(kind: String): Option[TableLayout] = byKind.get(kind)

  /** The layout `table` is bound to, and its path; None for plain
    * tables and for views such as `mor_ro`.
    */
  def find(spark: SparkSession, table: String): Option[(TableLayout, String)] =
    Catalog.layoutOf(spark, table).flatMap { case (k, p) => named(k).map(_ -> p) }

  /** [[find]], loud when `table` is not bound to a layout: the error
    * reads "`table`: `need`", plus the binding it does have.
    */
  def of(spark: SparkSession, table: String,
      need: String): (TableLayout, String) =
    find(spark, table).getOrElse(throw new IllegalArgumentException(
      s"$table: $need" +
        Catalog.layoutOf(spark, table).fold("")(kp => s" (layout: ${kp._1})")))

  /** A one-row LOCAL frame of `values`, each cast to its column's type
    * (hashes are type-sensitive): the plan folds to a local relation,
    * so a routing hash or tag over it evaluates on the driver with no
    * Spark job.
    */
  def literalRow(spark: SparkSession, cols: Seq[(String, DataType)],
      values: Seq[Any]): DataFrame =
    spark.createDataFrame(java.util.List.of(Row()), StructType(Nil))
      .select(cols.zip(values).map { case ((c, t), v) =>
        lit(v).cast(t).as(c) }: _*)
}
