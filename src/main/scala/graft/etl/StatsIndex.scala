package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** File-level column-statistics index with data-skipping scans — the
  * re-expression of Hudi's metadata-table `column_stats` partition and
  * `hoodie.metadata.index.column.stats.enable` data skipping (the
  * reference gets file pruning implicitly from Hudi's file-listing +
  * stats metadata when reading the tables it writes,
  * pipeline_architecture.py:238-260; Delta/Iceberg ship the same
  * structure as per-file min/max in the transaction log / manifest).
  *
  * Why this exists at 100 TB: parquet row-group stats only prune AFTER
  * a footer is opened — a scan over a million files still pays a
  * million footer reads (and on an object store, a million GETs) just
  * to discover most files are irrelevant. A column-stats index holds
  * one row per file (min/max/null-count per indexed column), so a
  * range predicate prunes the FILE LIST before any data I/O: the scan
  * plans only the surviving files. Stats rows are O(files), thousands
  * of times smaller than the data.
  *
  * Layout under `statsPath/`:
  *   - `v=N/`      stats parquet as of version N (one row per data file)
  *   - `_latest`   pointer file holding N — atomically swapped, so a
  *                 reader sees a complete version and a crashed writer
  *                 leaves the previous version live ([[Timeline]]'s
  *                 pointer-file commit, applied to the index)
  *   - `_props`    the indexed column list
  *
  * Correctness never depends on the index: [[scan]] re-applies every
  * range as a real residual filter, so a stale index can only lose
  * pruning opportunity on files it has not seen — which [[update]]
  * closes incrementally by scanning ONLY files absent from the current
  * version (Hudi's incremental metadata-table commit; O(new files),
  * not O(table)).
  */
object StatsIndex {

  /** Closed range predicate on one column; `None` = unbounded side. */
  final case class ColRange(column: String,
      lo: Option[Any] = None, hi: Option[Any] = None)

  private def latestPath(statsPath: String): Path = Paths.get(statsPath, "_latest")
  private def propsPath(statsPath: String): Path = Paths.get(statsPath, "_props")

  def exists(statsPath: String): Boolean = Files.exists(latestPath(statsPath))

  /** An indexed entry: stats column `name` computed from `sqlExpr`.
    * A plain column indexes itself (`name == sqlExpr`); a FUNCTIONAL
    * entry (Hudi 1.0's functional index) computes min/max/nulls of an
    * expression the data never materializes — declared in [[build]]'s
    * `cols` as `"name:=sqlExpr"` (e.g. `"day:=ts_us div 86400000000"`),
    * so a predicate on the expression prunes files without a derived
    * column existing on disk.
    */
  final case class Entry(name: String, sqlExpr: String)

  private def parseEntry(s: String): Entry = s.split(":=") match {
    case Array(n, e) => Entry(n.trim, e.trim)
    case _ => Entry(s.trim, s.trim)
  }

  /** Indexed entries as recorded at [[build]] time. Props format is
    * one entry per line (functional entries carry commas inside their
    * SQL); a single comma-joined line of plain columns — the format
    * before functional entries existed — still parses.
    */
  def entries(statsPath: String): Seq[Entry] =
    Files.readString(propsPath(statsPath)).split('\n').toSeq
      .flatMap { line =>
        if (line.contains(":=")) Seq(line.trim)
        else line.split(',').toSeq.map(_.trim)
      }
      .filter(_.nonEmpty).map(parseEntry)

  /** Indexed stats-column names, as recorded at [[build]] time. */
  def columns(statsPath: String): Seq[String] = entries(statsPath).map(_.name)

  private def currentVersion(statsPath: String): Long =
    Files.readString(latestPath(statsPath)).trim.toLong

  private def statsDf(spark: SparkSession, statsPath: String): DataFrame =
    UnitSchema.read(spark, s"$statsPath/v=${currentVersion(statsPath)}")

  /** `file:///a/b` and `/a/b` must compare equal: `_metadata.file_path`
    * reports the Hadoop URI while directory listings yield plain paths.
    */
  private def stripScheme(p: String): String =
    if (p.startsWith("file:")) p.drop(5).replaceFirst("^/+", "/") else p

  private def listDataFiles(dataDir: String): Seq[String] = {
    val s = Files.walk(Paths.get(dataDir))
    try s.iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .map(_.toAbsolutePath.toString).toSeq.sorted
    finally s.close()
  }

  /** One stats row per file of `df`'s file source: row_count plus
    * min/max/null_count per indexed column. A single scan with a
    * map-side-combined aggregation on `_metadata.file_path` — each
    * task folds its rows into one partial row per file it read, and
    * the shuffle moves O(files) tiny rows, not data.
    */
  private def computeStats(df: DataFrame, es: Seq[Entry]): DataFrame = {
    val aggs = count(lit(1)).as("row_count") +: es.flatMap { e =>
      val c = expr(e.sqlExpr)
      Seq(min(c).as(s"${e.name}__min"), max(c).as(s"${e.name}__max"),
        sum(c.isNull.cast("long")).as(s"${e.name}__nulls"))
    }
    df.groupBy(col("_metadata.file_path").as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("file", udfFreeStrip(col("file")))
  }

  /** `regexp_replace` strip of the `file:` scheme, evaluated in the
    * plan (no driver round-trip, no UDF).
    */
  private def udfFreeStrip(c: Column): Column =
    regexp_replace(c, "^file:/+", "/")

  /** The schema-uniform group a file belongs to — the unit whose
    * recorded schema ([[UnitSchema]]) its read uses: everything up to and
    * including its last COMMIT segment (`gen=` / `c=` / `base=` /
    * `log=` / `v=` — every engine layout writes one commit as one such
    * dir in one job, so its files share a schema), falling back to the
    * parent directory for paths outside any layout. Grouping by commit
    * — not by leaf dir — keeps the union width O(live commits), which
    * table services re-level, instead of O(directories) (a partitioned
    * table has one leaf dir per slice PER GENERATION).
    */
  // precompiled: schemaGroup runs once per FILE per index sync, and
  // String.matches would re-compile the pattern per segment
  private val CommitSeg =
    java.util.regex.Pattern.compile("(gen|c|base|log|v)=.+")

  private def schemaGroup(f: String): String = {
    val cut = f.lastIndexOf('/')
    val parent = if (cut <= 0) f else f.substring(0, cut)
    val segs = parent.split('/')
    val idx = segs.lastIndexWhere(s => CommitSeg.matcher(s).matches())
    if (idx < 0) parent else segs.take(idx + 1).mkString("/")
  }

  /** [[computeStats]] over an explicit file list, computed PER COMMIT
    * GROUP ([[schemaGroup]]) and unioned: files in one commit share a
    * schema, while cross-commit widths may legitimately differ after
    * `ALTER COLUMN TYPE` widening — a single flat read would infer one
    * footer's schema and fail on the other width. Each group's stats
    * rows are fixed-shape scalars, so the union is exact (numeric
    * min/max widen by set-op coercion).
    */
  private def statsForFiles(spark: SparkSession, files: Seq[String],
      es: Seq[Entry]): DataFrame =
    files.groupBy(schemaGroup)
      .map { case (g, fs) => computeStats(UnitSchema.read(spark, g, fs.sorted), es) }
      .reduce(_.unionByName(_))

  /** Row read of an explicit file list, grouped per commit for the
    * same mixed-width reason as [[statsForFiles]]; the cross-group
    * union widens to the declared-side type.
    */
  private def readGrouped(spark: SparkSession,
      files: Seq[String]): DataFrame =
    files.groupBy(schemaGroup)
      .map { case (g, fs) => UnitSchema.read(spark, g, fs.sorted) }
      .reduce(_.unionByName(_, allowMissingColumns = true))

  private def writeVersion(spark: SparkSession, statsPath: String,
      stats: DataFrame, v: Long): Unit = {
    // coalesce(1): the stats relation is O(files) rows of scalars — at a
    // million files still a single small parquet; one file keeps every
    // later prune a one-file read
    UnitSchema.write(stats.coalesce(1), s"$statsPath/v=$v")
    val tmp = Paths.get(statsPath, s"_latest.tmp${System.nanoTime()}")
    Files.writeString(tmp, v.toString,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, latestPath(statsPath), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Bootstrap the index: one full scan of `dataDir` (how Hudi
    * initializes the column-stats partition on an existing table).
    */
  def build(spark: SparkSession, dataDir: String, cols: Seq[String],
      statsPath: String): Unit = {
    require(cols.nonEmpty, "index at least one column")
    Files.createDirectories(Paths.get(statsPath))
    Files.writeString(propsPath(statsPath), cols.mkString("\n"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    writeVersion(spark, statsPath,
      computeStats(spark.read.parquet(dataDir), cols.map(parseEntry)), 0L)
  }

  /** [[build]] over an EXPLICIT file list — for table formats whose
    * live set is manifest-resolved rather than
    * everything-under-a-directory ([[PartitionedTable.liveFiles]],
    * bucket/bloom manifests): superseded generations share the dir but
    * must not pollute the index.
    */
  def buildFromFiles(spark: SparkSession, files: Seq[String],
      cols: Seq[String], statsPath: String): Unit = {
    require(cols.nonEmpty, "index at least one column")
    require(files.nonEmpty, "no files to index")
    Files.createDirectories(Paths.get(statsPath))
    Files.writeString(propsPath(statsPath), cols.mkString("\n"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    writeVersion(spark, statsPath,
      statsForFiles(spark, files, cols.map(parseEntry)), 0L)
  }

  /** Sync the index to an explicit CURRENT file list: stats rows of
    * vanished files dropped, new files scanned (O(new files) data
    * I/O), surviving rows carried forward. The table-format twin of
    * [[update]] — a compaction or clustering commit swaps many files
    * at once and the index follows without a full rebuild. Returns the
    * newly indexed files.
    */
  def syncToFiles(spark: SparkSession, files: Seq[String],
      statsPath: String): Seq[String] = {
    val current = files.map(stripScheme).toSet
    val stats = statsDf(spark, statsPath)
    val indexed = stats.select("file").collect().map(_.getString(0)).toSet
    val fresh = (current -- indexed).toSeq.sorted
    if (fresh.isEmpty && (indexed -- current).isEmpty) return Seq.empty
    import spark.implicits._
    val keep = stats.join(
      broadcast(current.toSeq.toDF("file")), Seq("file"), "leftsemi")
    val next =
      if (fresh.isEmpty) keep
      else keep.unionByName(
        statsForFiles(spark, fresh, entries(statsPath)))
    writeVersion(spark, statsPath, next, currentVersion(statsPath) + 1)
    fresh
  }

  /** [[scan]] over an explicit live file list: plan only the files
    * that both survive the stats prune AND are in the caller's live
    * set (the index may still carry rows for files a concurrent commit
    * just retired — correctness comes from the caller's list).
    */
  def scanFiles(spark: SparkSession, files: Seq[String], statsPath: String,
      ranges: Seq[ColRange]): DataFrame = {
    val (survivors, _) = prune(spark, statsPath, ranges)
    val live = files.map(stripScheme).toSet
    val keep = survivors.filter(live)
    if (keep.isEmpty) readGrouped(spark, files).filter(lit(false))
    else readGrouped(spark, keep)
      .filter(rangesFilter(ranges, entries(statsPath)))
  }

  /** Fold files that appeared since the last version into the index —
    * reads ONLY the new files (listing diff on the driver is O(files)
    * names, the same knowledge any commit protocol's planner holds).
    * Returns the newly indexed files; no-op on an up-to-date index.
    */
  def update(spark: SparkSession, dataDir: String, statsPath: String): Seq[String] = {
    val indexed = statsDf(spark, statsPath).select("file")
      .collect().map(_.getString(0)).toSet
    val fresh = listDataFiles(dataDir).filterNot(indexed)
    if (fresh.isEmpty) return Seq.empty
    val freshStats = statsForFiles(spark, fresh, entries(statsPath))
    writeVersion(spark, statsPath,
      statsDf(spark, statsPath).unionByName(freshStats),
      currentVersion(statsPath) + 1)
    fresh
  }

  /** Survivor predicate over the stats relation: a file can hold a row
    * in `[lo, hi]` unless its max proves `< lo` or its min proves
    * `> hi`. Null min/max stats occur exactly when the file has NO
    * non-null value in the column (min/max skip nulls — an all-null
    * file, or one written before the column existed), and a null cell
    * matches no range predicate, so those files are provably
    * unmatchable and `coalesce(..., false)` prunes them too.
    */
  private def survives(r: ColRange): Column = {
    val loOk = r.lo.map(v =>
      coalesce(col(s"${r.column}__max") >= lit(v), lit(false)))
    val hiOk = r.hi.map(v =>
      coalesce(col(s"${r.column}__min") <= lit(v), lit(false)))
    (loOk.toSeq ++ hiOk.toSeq).reduceOption(_ && _).getOrElse(lit(true))
  }

  /** Files whose stats intersect every range, plus the total indexed
    * count (for observability/asserts). The stats read is one tiny
    * parquet; survivors come to the driver because the driver is what
    * plans the subsequent scan's file list.
    */
  def prune(spark: SparkSession, statsPath: String,
      ranges: Seq[ColRange]): (Seq[String], Long) = {
    val idxCols = columns(statsPath).toSet
    val unknown = ranges.map(_.column).filterNot(idxCols)
    require(unknown.isEmpty,
      s"columns not in index: ${unknown.mkString(",")} (indexed: ${idxCols.mkString(",")})")
    val stats = statsDf(spark, statsPath)
    val total = stats.count()
    val survivors = stats.filter(ranges.map(survives).reduceOption(_ && _)
      .getOrElse(lit(true)))
      .select("file").collect().map(_.getString(0)).toSeq.sorted
    (survivors, total)
  }

  /** Data-skipping scan: plan only the files [[prune]] keeps, then
    * re-apply every range as a residual filter — the residual also
    * reaches parquet PushedFilters, so row-group pruning still applies
    * inside survivors and correctness never rests on index freshness
    * for the files it HAS indexed. Files newer than the index are
    * invisible to it, which is why writers pair appends with
    * [[update]]; [[scanFresh]] closes the gap unconditionally.
    */
  def scan(spark: SparkSession, dataDir: String, statsPath: String,
      ranges: Seq[ColRange]): DataFrame = {
    val (files, _) = prune(spark, statsPath, ranges)
    val residual = rangesFilter(ranges, entries(statsPath))
    if (files.isEmpty)
      spark.read.parquet(dataDir).filter(lit(false))
    else
      readGrouped(spark, files).filter(residual)
  }

  /** [[update]] then [[scan]]: the read-side contract Hudi's metadata
    * reader gives — stats always cover the current file listing.
    */
  def scanFresh(spark: SparkSession, dataDir: String, statsPath: String,
      ranges: Seq[ColRange]): DataFrame = {
    update(spark, dataDir, statsPath)
    scan(spark, dataDir, statsPath, ranges)
  }

  /** How a [[countWhere]] answered: rows proven by metadata alone,
    * files that had to be scanned for the boundary residual, and the
    * index size the classification ran over.
    */
  final case class CountBreakdown(total: Long, metaRows: Long,
      containedFiles: Seq[String], scannedFiles: Seq[String],
      indexedFiles: Long)

  /** File fully inside `r`: every row satisfies the range, so its
    * `row_count` can be taken from metadata without opening the file.
    * Requires zero nulls in the column — nulls never satisfy a range
    * predicate but do sit inside min/max, so a nulled file must fall
    * back to the residual scan. An unbounded range (no predicate) is
    * trivially contained, nulls and all.
    */
  private def containedIn(r: ColRange): Column = {
    val loOk = r.lo.map(v =>
      coalesce(col(s"${r.column}__min") >= lit(v), lit(false)))
    val hiOk = r.hi.map(v =>
      coalesce(col(s"${r.column}__max") <= lit(v), lit(false)))
    val bounds = loOk.toSeq ++ hiOk.toSeq
    if (bounds.isEmpty) lit(true)
    else (bounds :+ (col(s"${r.column}__nulls") === lit(0L))).reduce(_ && _)
  }

  /** Metadata-answered count (Hudi's metadata-table count / Iceberg's
    * manifest-stats count, re-expressed over the stats index): classify
    * every indexed file against the ranges — DISJOINT files contribute
    * nothing, fully-CONTAINED files contribute their `row_count`
    * straight from the index, and only BOUNDARY files (intersecting but
    * not contained) are opened, with the residual filter applied. At
    * 100 TB a time-range count touches two boundary files instead of
    * the whole table; the classification itself is one driver pass over
    * the O(files) stats relation — the same order as planning any scan.
    * Correctness never rests on tightness: a file the index can't prove
    * contained is scanned, and `StatsIndexSpec` pins the null fallback.
    */
  def countWhere(spark: SparkSession, dataDir: String, statsPath: String,
      ranges: Seq[ColRange]): CountBreakdown = {
    val idxCols = columns(statsPath).toSet
    val unknown = ranges.map(_.column).filterNot(idxCols)
    require(unknown.isEmpty,
      s"columns not in index: ${unknown.mkString(",")} (indexed: ${idxCols.mkString(",")})")
    val surv = ranges.map(survives).reduceOption(_ && _).getOrElse(lit(true))
    val cont = ranges.map(containedIn).reduceOption(_ && _).getOrElse(lit(true))
    val rows = statsDf(spark, statsPath)
      .select(col("file"), surv.as("s"), cont.as("c"), col("row_count"))
      .collect()
    val containedFiles =
      rows.filter(_.getBoolean(2)).map(_.getString(0)).toSeq.sorted
    val metaRows = rows.filter(_.getBoolean(2)).map(_.getLong(3)).sum
    val boundary = rows.filter(r => r.getBoolean(1) && !r.getBoolean(2))
      .map(_.getString(0)).toSeq.sorted
    val scanned =
      if (boundary.isEmpty) 0L
      else readGrouped(spark, boundary)
        .filter(rangesFilter(ranges, entries(statsPath))).count()
    CountBreakdown(metaRows + scanned, metaRows, containedFiles, boundary,
      rows.length.toLong)
  }

  /** Metadata-only min/max of an indexed column: the fold of per-file
    * bounds IS the global extremum (min of mins / max of maxes, nulls
    * ignored — SQL MIN/MAX semantics), so the highest-traffic
    * incremental-ETL query — `SELECT max(ts)` for the next watermark —
    * answers from one O(files) stats read with zero data files opened.
    * Returns (None, None) when no file holds a non-null value.
    */
  def minMaxOf(spark: SparkSession, statsPath: String,
      column: String): (Option[Any], Option[Any]) = {
    require(columns(statsPath).contains(column),
      s"column not in index: $column (indexed: ${columns(statsPath).mkString(",")})")
    val r = statsDf(spark, statsPath)
      .agg(min(col(s"${column}__min")).as("lo"),
        max(col(s"${column}__max")).as("hi"))
      .collect().head
    (Option(r.get(0)), Option(r.get(1)))
  }

  /** Residual filter over the DATA: each range's name resolves back to
    * its entry's expression — a plain column filters itself (and still
    * reaches parquet PushedFilters); a functional entry re-evaluates
    * its expression per row (no pushdown — the file-level prune is the
    * whole point of indexing it).
    */
  private def rangesFilter(ranges: Seq[ColRange], es: Seq[Entry]): Column = {
    val exprOf = es.map(e => e.name -> e.sqlExpr).toMap
    ranges.flatMap { r =>
      val c = expr(exprOf.getOrElse(r.column, r.column))
      r.lo.map(v => c >= lit(v)).toSeq ++ r.hi.map(v => c <= lit(v)).toSeq
    }.reduceOption(_ && _).getOrElse(lit(true))
  }
}
