package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import java.nio.file.Paths
import java.util.concurrent.ConcurrentHashMap

/** DDL surface (SURVEY.md §2.1 S5): the reference's
  * `create_database_and_table` (pipeline_architecture.py:69-122) issues
  * `CREATE DATABASE IF NOT EXISTS` ×2 and `CREATE TABLE ... USING HUDI
  * TBLPROPERTIES(type='cow', primaryKey=..., preCombineField=...)`.
  *
  * This environment has no Hive metastore and no Hudi, so the same
  * statements run against Spark's in-memory session catalog with
  * parquet tables at explicit locations; the Hudi table properties are
  * carried as plain TBLPROPERTIES so downstream code (HudiLike) can
  * read key/precombine metadata from the catalog instead of hardcoding
  * it.
  */
object Catalog {

  /** Idempotently create the pipeline database + both tables (target
    * fact table and audit log), mirroring py:78-97 and py:100-117.
    */
  def ensurePipelineTables(spark: SparkSession, baseDir: String): Unit = {
    spark.sql(
      s"CREATE DATABASE IF NOT EXISTS pipeline_layer LOCATION '$baseDir/pipeline_layer.db'")

    // target fact table (py:78-97), Hudi options → table properties
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS pipeline_layer.target_table (
         |  record_id STRING,
         |  entity_id STRING,
         |  event_timestamp TIMESTAMP,
         |  event_type STRING,
         |  data_field_1 STRING,
         |  data_field_2 STRING,
         |  numeric_field_1 DOUBLE,
         |  numeric_field_2 INT,
         |  processing_date DATE,
         |  load_timestamp TIMESTAMP
         |) USING PARQUET
         |LOCATION '$baseDir/pipeline_layer.db/target_table'
         |TBLPROPERTIES (
         |  'graft.table.type' = 'cow',
         |  'graft.table.primaryKey' = 'record_id',
         |  'graft.table.preCombineField' = 'load_timestamp')""".stripMargin)

    // audit log (py:100-117): composite primary key, BIGINT epoch millis
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS pipeline_layer.pipeline_log (
         |  pipeline_name STRING,
         |  last_run_timestamp BIGINT,
         |  current_run_timestamp BIGINT,
         |  status STRING,
         |  records_processed INT,
         |  processing_time_seconds DOUBLE,
         |  error_message STRING,
         |  created_at BIGINT
         |) USING PARQUET
         |LOCATION '$baseDir/pipeline_layer.db/pipeline_log'
         |TBLPROPERTIES (
         |  'graft.table.type' = 'cow',
         |  'graft.table.primaryKey' = 'pipeline_name,created_at',
         |  'graft.table.preCombineField' = 'created_at')""".stripMargin)
  }

  // ---- Hive-sync emulation --------------------------------------------
  // The reference enables Hudi's post-commit metastore sync
  // (pipeline_architecture.py:248-251): after every commit the catalog
  // entry is re-registered so readers resolve the NEW file set. Without
  // it, a temp view created over the table path pins the file listing of
  // the snapshot that existed at registration — after a CoW swap it
  // reads stale data (or fails once the old snapshot is cleaned). Views
  // registered here are re-registered by [[syncViews]], which
  // `HudiLike.commit` / `Timeline.commit` invoke after their pointer
  // swap — the no-HMS analog of hive-sync.

  // Temp views are SESSION-scoped, so the registry keys each entry by
  // its owning session and syncViews re-registers on THAT session (held
  // weakly — a tracked view must not pin a stopped session in memory),
  // never on whichever session happened to commit. Without this, a
  // commit from session B would re-point session B's view while session
  // A kept a stale pinned file listing of the swapped-out snapshot.
  private final case class ViewEntry(
      session: java.lang.ref.WeakReference[SparkSession],
      name: String, path: String, timeline: Boolean)
  private val viewRegistry = new ConcurrentHashMap[(Int, String), ViewEntry]()

  private def canon(p: String): String = Paths.get(p).toAbsolutePath.normalize.toString

  private def key(spark: SparkSession, name: String): (Int, String) =
    (System.identityHashCode(spark), name)

  /** Register (or replace) a temp view over a `HudiLike`-managed table
    * path; the view is kept in sync across commits (in the registering
    * session — each session tracks its own views).
    */
  def registerView(spark: SparkSession, name: String, tablePath: String): Unit = {
    UnitSchema.read(spark, tablePath).createOrReplaceTempView(name)
    viewRegistry.put(key(spark, name), ViewEntry(
      new java.lang.ref.WeakReference(spark), name, canon(tablePath), timeline = false))
  }

  /** Register a temp view tracking the LATEST version of a
    * `Timeline`-managed table root.
    */
  def registerTimelineView(spark: SparkSession, name: String, tableRoot: String): Unit = {
    Timeline.read(spark, tableRoot).createOrReplaceTempView(name)
    viewRegistry.put(key(spark, name), ViewEntry(
      new java.lang.ref.WeakReference(spark), name, canon(tableRoot), timeline = true))
  }

  /** Drop a view from sync tracking in every session it was registered
    * from (the view itself is left to each session's normal temp-view
    * lifecycle).
    */
  def unregisterView(name: String): Unit =
    viewRegistry.keySet.removeIf(_._2 == name)

  /** Re-register every tracked view over `tablePath` — each on its OWN
    * session — and invalidate cached plans holding the swapped files.
    * Called by the commit paths; safe for paths with no tracked views.
    * Entries whose session has been garbage-collected are dropped.
    */
  private[etl] def syncViews(committing: SparkSession, tablePath: String): Unit = {
    val p = canon(tablePath)
    val dead = new java.util.ArrayList[(Int, String)]()
    viewRegistry.forEach { (k, e) =>
      if (e.path == p) {
        e.session.get() match {
          case null => dead.add(k)
          case owner =>
            if (e.timeline) Timeline.read(owner, e.path).createOrReplaceTempView(e.name)
            else UnitSchema.read(owner, e.path).createOrReplaceTempView(e.name)
            try owner.catalog.refreshByPath(p)
            catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    }
    dead.forEach(viewRegistry.remove(_))
    // the committing session's own cached Datasets over the old
    // snapshot: drop + relist their files even if it tracked no view
    try committing.catalog.refreshByPath(p)
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Read the upsert key/precombine config back from table properties
    * (comma-split composite keys, as Hudi does — py:114).
    */
  def upsertConfig(spark: SparkSession, table: String): (Seq[String], String) = {
    val (keys, pc, _) = upsertConfigFull(spark, table)
    (keys, pc)
  }

  /** [[upsertConfig]] plus the optional `graft.table.tieBreak` columns
    * (deterministic resolution of precombine ties — the property a
    * table declares when its precombine column is not unique per key).
    */
  def upsertConfigFull(spark: SparkSession,
      table: String): (Seq[String], String, Seq[String]) = {
    val props = tblProps(spark, table)
    (props("graft.table.primaryKey").split(",").map(_.trim).toSeq,
      props("graft.table.preCombineField"),
      props.getOrElse("graft.table.tieBreak", "").split(",")
        .map(_.trim).filter(_.nonEmpty).toSeq)
  }

  /** The table's properties exactly as `SHOW TBLPROPERTIES` returns
    * them (a temp view has none; values redacted and view-internal keys
    * hidden the same way), read straight from the session catalog: a
    * lookup, where the statement costs two SQL executions. No cache —
    * the catalog stays the single source of truth.
    */
  private[etl] def tblProps(spark: SparkSession, table: String): Map[String, String] = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.CatalogTable
    val ident = spark.sessionState.sqlParser.parseMultipartIdentifier(table) match {
      case Seq(t) => TableIdentifier(t)
      case Seq(db, t) => TableIdentifier(t, Some(db))
      case Seq(cat, db, t) => TableIdentifier(t, Some(db), Some(cat))
      case _ => throw new IllegalArgumentException(s"not a table name: $table")
    }
    val catalog = spark.sessionState.catalog
    if (catalog.isTempView(ident)) Map.empty
    else spark.sessionState.conf.redactOptions(
      catalog.getTableMetadata(ident).properties)
      .filterNot(_._1.startsWith(CatalogTable.VIEW_PREFIX))
  }

  // ---- layout-backed tables -------------------------------------------
  // Hudi registers its tables in the metastore so SQL DML routes to the
  // table's OWN storage layout (file groups + index), not a naive
  // whole-table rewrite. The analog here: a catalog entry whose
  // `graft.table.layout`/`graft.table.path` TBLPROPERTIES bind it to an
  // engine-managed BucketTable or BloomTable — SqlMerge dispatches
  // MERGE/UPDATE/DELETE to that layout's targeted rewrites, and reads
  // go through [[readTable]].

  /** `Some((kind, path))` when `table` is bound to an engine-managed
    * layout (`kind` ∈ bucket | bloom | partitioned), None for plain
    * parquet tables.
    */
  def layoutOf(spark: SparkSession, table: String): Option[(String, String)] = {
    val props = tblProps(spark, table)
    for {
      kind <- props.get("graft.table.layout")
      path <- props.get("graft.table.path")
    } yield (kind, path)
  }

  /** Secondary-index bindings declared on the table:
    * `graft.table.secondaryIndex = 'col1,col2:idxPath1;col3:idxPath2'`
    * — a semicolon-joined list of (indexed columns, index table path)
    * entries, one per secondary index (a table may bind several, each
    * over a different column set). The DML front door consults them to
    * resolve equality predicates on indexed columns into primary keys
    * WITHOUT a table scan.
    */
  def secondaryIndexesOf(spark: SparkSession,
      table: String): Seq[(Seq[String], String)] =
    tblProps(spark, table).get("graft.table.secondaryIndex").toSeq
      .flatMap(_.split(";").toSeq).filter(_.nonEmpty).map { v =>
        val Array(cols, path) = v.split(":", 2)
        (cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq, path)
      }

  /** The FIRST secondary-index binding (legacy single-index callers). */
  def secondaryIndexOf(spark: SparkSession,
      table: String): Option[(Seq[String], String)] =
    secondaryIndexesOf(spark, table).headOption

  /** Column-stats index bound to the table:
    * `graft.table.statsIndex = '<statsPath>'` — the zone-map sidecar
    * ([[StatsIndex]]) the SQL read route consults for data skipping on
    * range predicates (Hudi's metadata-table column_stats partition,
    * carried as table config like every other binding here).
    */
  def statsIndexOf(spark: SparkSession, table: String): Option[String] =
    tblProps(spark, table).get("graft.table.statsIndex").filter(_.nonEmpty)

  /** The table's declared write-concurrency mode
    * (`graft.table.writeConcurrency` — Hudi's
    * `hoodie.write.concurrency.mode` as table config): `'occ'` routes
    * the SQL keyed-ingest verbs (star-star MERGE, INSERT INTO) through
    * the layout's optimistic front door, so concurrent writers with
    * disjoint footprints (buckets / candidate files / partitions /
    * versions) both commit instead of the second failing on the table
    * lock. Anything else (or unset) is the single-writer default.
    * Declared with plain SQL:
    * `ALTER TABLE t SET TBLPROPERTIES ('graft.table.writeConcurrency' = 'occ')`.
    */
  def writeConcurrencyOf(spark: SparkSession, table: String): String =
    tblProps(spark, table)
      .getOrElse("graft.table.writeConcurrency", "single").toLowerCase

  /** Named index registry on the table: `graft.index.<name> =
    * '<type>:<artifact>'` — one entry per index created through the
    * SQL DDL front door ([[SqlIndex]]); `DROP INDEX` resolves against
    * it and `CALL show_indexes` lists it.
    */
  def indexesOf(spark: SparkSession,
      table: String): Map[String, (String, String)] = {
    val prefix = "graft.index."
    tblProps(spark, table).collect {
      case (k, v) if k.startsWith(prefix) =>
        val Array(tpe, artifact) = v.split(":", 2)
        k.drop(prefix.length) -> (tpe, artifact)
    }
  }

  /** Pre-commit validators declared on the table:
    * `graft.table.validator.<name> = '<SQL boolean expr flagging a
    * VIOLATION>'` — Hudi's `hoodie.precommit.validators` carried the
    * same way its writer options are: as table config, so EVERY write
    * route (API or SQL DML) can enforce them without the caller
    * re-stating the rules.
    */
  def validatorsOf(spark: SparkSession, table: String): Seq[PreCommit.Rule] = {
    val prefix = "graft.table.validator."
    tblProps(spark, table).collect {
      case (k, v) if k.startsWith(prefix) && v.trim.nonEmpty =>
        PreCommit.Rule(k.drop(prefix.length),
          org.apache.spark.sql.functions.expr(v))
    }.toSeq.sortBy(_.name)
  }

  /** Register a catalog entry bound to an engine-managed layout at
    * `path` (already created via `BucketTable.create` /
    * `BloomTable.create`). The entry carries the layout's schema and
    * key/precombine config as TBLPROPERTIES; its LOCATION points at an
    * empty stub directory so an accidental direct `spark.table` read
    * returns zero rows instead of silently unioning every superseded
    * generation — layout-aware reads go through [[readTable]].
    */
  def registerLayoutTable(spark: SparkSession, name: String, kind: String,
      path: String, secondaryIndex: Option[(Seq[String], String)] = None,
      validators: Seq[(String, String)] = Nil,
      statsIndex: Option[String] = None): Unit = {
    val (schema, keys, precombine, tieBreak) = kind match {
      case "bucket" =>
        val p = BucketTable.props(path)
        (BucketTable.read(spark, path).schema, p.keys, p.precombine, p.tieBreak)
      case "bloom" =>
        val p = BloomTable.props(path)
        (BloomTable.read(spark, path).schema, p.keys, p.precombine, p.tieBreak)
      case "partitioned" =>
        val p = PartitionedTable.props(path)
        (PartitionedTable.read(spark, path).schema,
          p.keys, p.precombine, p.tieBreak)
      case "mor" =>
        val p = MorTable.props(path)
        (MorTable.readSnapshot(spark, path).schema,
          p.keys, p.precombine, p.tieBreak)
      case "mor_ro" =>
        // Hudi's `_ro` companion table: the SAME MOR path registered
        // read-only — SELECT serves the compacted base alone (stale by
        // up to the compaction lag, zero merge cost); DML must go
        // through the snapshot-view entry
        val p = MorTable.props(path)
        (MorTable.readOptimized(spark, path).schema,
          p.keys, p.precombine, p.tieBreak)
      case other => throw new IllegalArgumentException(
        s"unknown layout kind '$other' (expected bucket | bloom | " +
          "partitioned | mor | mor_ro)")
    }
    writeLayoutEntry(spark, name, kind, path, schema, keys, precombine,
      tieBreak, secondaryIndex, validators, statsIndex)
  }

  /** Register a catalog entry bound to a [[Timeline]] table — the
    * versioned-snapshot layout, the one `SELECT ... VERSION AS OF` /
    * `TIMESTAMP AS OF` resolve against ([[graft.etl.SqlRead]]). The
    * timeline persists no key config of its own (upserts carry it),
    * so registration declares it — the same role Hudi's table config
    * plays for its SQL surface.
    */
  def registerTimelineTable(spark: SparkSession, name: String, path: String,
      keys: Seq[String], precombine: String,
      tieBreak: Seq[String] = Nil): Unit =
    writeLayoutEntry(spark, name, "timeline", path,
      Timeline.read(spark, path).schema, keys, precombine, tieBreak, None)

  private def writeLayoutEntry(spark: SparkSession, name: String,
      kind: String, path: String, schema: org.apache.spark.sql.types.StructType,
      keys: Seq[String], precombine: String, tieBreak: Seq[String],
      secondaryIndex: Option[(Seq[String], String)],
      validators: Seq[(String, String)] = Nil,
      statsIndex: Option[String] = None): Unit = {
    val stub = Paths.get(path, "_catalog_stub")
    java.nio.file.Files.createDirectories(stub)
    // same escaping discipline as replaceEntry: a validator expression
    // like `status != 'ok'` (or a regex with backslashes) must survive
    // the INITIAL registration verbatim, not just later ALTERs
    val props: Seq[(String, String)] =
      Seq(
        "graft.table.layout" -> kind,
        "graft.table.path" -> path,
        "graft.table.primaryKey" -> keys.mkString(","),
        "graft.table.preCombineField" -> precombine,
        "graft.table.tieBreak" -> tieBreak.mkString(",")) ++
      secondaryIndex.map { case (cols, idxPath) =>
        "graft.table.secondaryIndex" -> s"${cols.mkString(",")}:$idxPath"
      } ++
      validators.map { case (n, sql) => s"graft.table.validator.$n" -> sql } ++
      statsIndex.map("graft.table.statsIndex" -> _)
    val propsSql = props.map { case (k, v) =>
      s"'${sqlLit(k)}' = '${sqlLit(v)}'"
    }.mkString(",\n  ")
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(
      s"""CREATE TABLE $name (${schema.toDDL})
         |USING PARQUET LOCATION '${sqlLit(stub.toString)}'
         |TBLPROPERTIES (
         |  $propsSql)""".stripMargin)
  }

  /** SQL string-literal escaping for TBLPROPERTIES values: Spark's
    * string literals process backslash escapes too, so both
    * quote-doubling and backslash-doubling are required for a stored
    * value to round-trip verbatim.
    */
  private def sqlLit(v: String): String =
    v.replace("\\", "\\\\").replace("'", "''")

  // ---- schema-on-read mapping -------------------------------------------
  // DROP COLUMNS / RENAME COLUMN are metadata-only: data files are
  // immutable, so the catalog carries a name mapping (logical → physical;
  // Iceberg's name mapping, Hudi's schema-on-read) plus a tombstone list
  // of dropped PHYSICAL columns. Writers keep physical names stable
  // forever — new data for a renamed column lands under its ORIGINAL
  // physical name ([[toPhysical]]) so a snapshot never mixes two spellings
  // of one column across files — and readers reconcile through
  // [[alignToDeclared]]. At 100 TB either statement costs one catalog
  // write and zero file rewrites.

  private def parseRenames(props: Map[String, String]): Map[String, String] =
    props.get("graft.schema.renames").filter(_.nonEmpty)
      .fold(Map.empty[String, String]) { v =>
        v.split(";").filter(_.nonEmpty).map { pair =>
          val Array(log, phys) = pair.split(":", 2)
          log.toLowerCase -> phys
        }.toMap
      }

  private def parseDropped(props: Map[String, String]): Set[String] =
    props.get("graft.schema.dropped").filter(_.nonEmpty)
      .fold(Set.empty[String])(_.split(",").map(_.trim.toLowerCase)
        .filter(_.nonEmpty).toSet)

  private def parseDefaults(props: Map[String, String]): Map[String, String] = {
    val prefix = "graft.schema.default."
    props.collect { case (k, v) if k.startsWith(prefix) && v.trim.nonEmpty =>
      k.drop(prefix.length).toLowerCase -> v
    }
  }

  private def safeProps(spark: SparkSession,
      table: String): Map[String, String] =
    scala.util.Try(tblProps(spark, table)).getOrElse(Map.empty)

  /** Rename map from `graft.schema.renames` (`logical:physical;...`):
    * lower-cased LOGICAL name → physical column name.
    */
  def renamesOf(spark: SparkSession, table: String): Map[String, String] =
    parseRenames(safeProps(spark, table))

  /** Lower-cased PHYSICAL names retired by `DROP COLUMNS`
    * (`graft.schema.dropped`) — projected away on read, rejected on
    * re-ADD (resurfacing the old file data under a fresh declaration
    * would silently resurrect dropped values).
    */
  def droppedOf(spark: SparkSession, table: String): Set[String] =
    parseDropped(safeProps(spark, table))

  /** Constant column defaults declared via `ALTER TABLE ... ADD COLUMNS
    * (c T DEFAULT expr)` — `graft.schema.default.<col>` TBLPROPERTIES,
    * lower-cased LOGICAL column name → the default's SQL text. A
    * defaulted column has `NOT NULL DEFAULT` semantics on read: absent
    * or NULL values serve the default ([[alignToDeclared]]'s coalesce),
    * metadata-only until a write materializes the column.
    */
  def defaultsOf(spark: SparkSession, table: String): Map[String, String] =
    parseDefaults(safeProps(spark, table))

  /** All three parts of the schema-on-read mapping in ONE catalog
    * fetch: (rename map, dropped set, defaults map). DML statements
    * fetch this once and thread it through their read/write
    * reconciliations instead of re-reading the catalog per call.
    */
  private[etl] def schemaMapping(spark: SparkSession,
      table: String): (Map[String, String], Set[String], Map[String, String]) = {
    val props = safeProps(spark, table)
    (parseRenames(props), parseDropped(props), parseDefaults(props))
  }

  /** The write half of schema-on-read: map a LOGICAL frame (what
    * [[readTable]] serves, what DML statements compute) back to the
    * table's stable PHYSICAL column names before any layout write.
    * Nested entries (dotted keys `parent.sub -> physSub`, one struct
    * level) rewrite the subfield INSIDE the parent struct — processed
    * FIRST, while the frame still carries the logical parent name the
    * dotted key addresses (the parent's own top-level rename, if any,
    * applies after).
    */
  def toPhysical(df: org.apache.spark.sql.DataFrame,
      renames: Map[String, String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, transform, transform_values, when}
    import org.apache.spark.sql.types.{ArrayType, MapType}
    val (nested, plain) = renames.partition(_._1.contains('.'))
    // recursive rename-to-physical at any depth, descending
    // array<struct> elements via the "element" path component and
    // map<_, struct> values via "value"; the rebuild preserves field
    // ORDER (withField would append) and None means nothing under this
    // path needs rewriting
    def rewrite(pathLower: String, typ: org.apache.spark.sql.types.DataType,
        src: org.apache.spark.sql.Column): Option[org.apache.spark.sql.Column] =
      typ match {
        case st: StructType =>
          val fields = st.fields.map { f =>
            val subPath = s"$pathLower.${f.name.toLowerCase}"
            val physName = nested.get(subPath)
              .filterNot(_.equalsIgnoreCase(f.name)).getOrElse(f.name)
            val inner = rewrite(subPath, f.dataType, src.getField(f.name))
            (inner.getOrElse(src.getField(f.name)).as(physName),
              inner.nonEmpty || physName != f.name)
          }
          if (!fields.exists(_._2)) None
          else Some(when(src.isNull, lit(null)).otherwise(
            struct(fields.map(_._1).toIndexedSeq: _*)))
        case at: ArrayType =>
          val elemPath = s"$pathLower.element"
          if (!nested.keys.exists(_.startsWith(elemPath + "."))) None
          else Some(transform(src, x =>
            rewrite(elemPath, at.elementType, x).getOrElse(x)))
        case mt: MapType =>
          val valPath = s"$pathLower.value"
          if (!nested.keys.exists(_.startsWith(valPath + "."))) None
          else Some(transform_values(src, (_, v) =>
            rewrite(valPath, mt.valueType, v).getOrElse(v)))
        case _ => None
      }
    val parents = nested.keySet.map(_.takeWhile(_ != '.'))
    val n = parents.foldLeft(df) { (d, parLower) =>
      d.columns.find(_.toLowerCase == parLower) match {
        case Some(par) =>
          rewrite(parLower, d.schema(par).dataType, col(par))
            .fold(d)(c => d.withColumn(par, c))
        case None => d
      }
    }
    plain.foldLeft(n) { case (d, (logLower, phys)) =>
      d.columns.find(_.toLowerCase == logLower)
        .fold(d)(actual => d.withColumnRenamed(actual, phys))
    }
  }

  def toPhysical(spark: SparkSession, table: String,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    toPhysical(df, renamesOf(spark, table))

  /** Hudi's schema-on-read, the read half: reconcile a physically-read
    * frame with the table's DECLARED catalog schema — rename mapped
    * physical columns to their logical names, project away dropped
    * physicals, then widen: a column added via `ALTER TABLE ... ADD
    * COLUMNS` exists in the catalog before any data file carries it and
    * reads as a typed NULL until a write materializes it (exactly what
    * Spark's parquet reader does for plain tables; layout reads bypass
    * the catalog schema, so the reconcile happens here). Otherwise
    * append-only: physical columns the catalog doesn't know keep
    * flowing, nothing else is projected away.
    */
  def alignToDeclared(spark: SparkSession, table: String,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val (renames, dropped, defaults) = schemaMapping(spark, table)
    alignToDeclared(spark, table, df, renames, dropped, defaults)
  }

  /** [[alignToDeclared]] with the schema mapping already in hand — the
    * variant DML statements use so one catalog fetch serves every
    * reconciliation in the statement.
    */
  private[etl] def alignToDeclared(spark: SparkSession, table: String,
      df: org.apache.spark.sql.DataFrame, renames: Map[String, String],
      dropped: Set[String],
      defaults: Map[String, String] = Map.empty): org.apache.spark.sql.DataFrame =
    scala.util.Try(spark.table(table).schema).toOption.fold(df) { sch =>
      import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
      // nested entries (dotted keys, one struct level) reconcile INSIDE
      // their parent struct below; only plain entries may touch
      // top-level columns (a dotted entry's bare physical sub-name must
      // never capture an unrelated top-level column of the same name)
      val (nestedRenames, plainRenames) = renames.partition(_._1.contains('.'))
      val (nestedDropped, plainDropped) = dropped.partition(_.contains('.'))
      val renamed = plainRenames.foldLeft(df) {
        case (d, (logLower, phys)) =>
          val hasLog = d.columns.exists(_.toLowerCase == logLower)
          if (hasLog) d
          else d.columns.find(_.equalsIgnoreCase(phys)).fold(d) { actual =>
            val declared = sch.fields.find(_.name.toLowerCase == logLower)
              .map(_.name).getOrElse(logLower)
            d.withColumnRenamed(actual, declared)
          }
      }
      val prunedTop = plainDropped.foldLeft(renamed)((d, p) =>
        d.columns.find(_.toLowerCase == p).fold(d)(d.drop(_)))
      val pruned = reconcileNested(prunedTop, sch, nestedRenames, nestedDropped)
      // a constant DEFAULT declared at ADD time gives the column
      // NOT-NULL-DEFAULT read semantics: absent (pre-ADD files) and
      // NULL values both serve the default, metadata-only
      def defaulted(f: org.apache.spark.sql.types.StructField,
          base: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        defaults.get(f.name.toLowerCase)
          .map(d => coalesce(base, expr(d).cast(f.dataType)))
          .getOrElse(base)
      sch.fields.foldLeft(pruned) { (d, f) =>
        d.schema.fields.find(_.name.equalsIgnoreCase(f.name)) match {
          // ADDed via ALTER before any file carries it: typed NULL
          // (or the declared constant default)
          case None => d.withColumn(f.name,
            defaulted(f, lit(null).cast(f.dataType)))
          // WIDENed via ALTER COLUMN TYPE: files keep their written
          // (narrower) type forever — cast up to the declared type.
          // The SAME lossless predicate as the DDL gate
          // (SqlDdl.isWidening, stricter than Cast.canUpCast which
          // admits lossy long→float/double): a physical/declared
          // divergence introduced outside ALTER COLUMN (bootstrap of
          // external files, hand-edited catalog) must flow through
          // untouched rather than be silently lossy-cast.
          // Filter pushdown survives: the optimizer's
          // UnwrapCastInBinaryComparison strips the cast off
          // comparisons against the scan column, so predicates still
          // reach PushedFilters at the narrow file's type.
          case Some(p) if p.dataType != f.dataType &&
              SqlDdl.isWidening(p.dataType, f.dataType) =>
            d.withColumn(p.name,
              defaulted(f, col(p.name).cast(f.dataType)))
          case Some(p) if defaults.contains(f.name.toLowerCase) =>
            d.withColumn(p.name, defaulted(f, col(p.name)))
          case _ => d
        }
      }
    }

  /** The nested half of [[alignToDeclared]] — one-level struct
    * reconcile, run AFTER top-level renames (the dotted state keys on
    * the parent's LOGICAL name) and before the top-level add/widen
    * fold (which then sees an already-conforming struct type). Per
    * declared struct column: map physical sub-names to logical
    * (nested RENAME), project away tombstoned subfields (nested
    * DROP), serve declared-but-absent subfields as typed NULLs
    * (nested ADD) and cast narrower subfields up (nested WIDEN, same
    * lossless predicate as everywhere). Files whose struct predates
    * everything — or that lack the parent column entirely — reconcile
    * the same way; unknown extra subfields flow through untouched
    * (append-only, as at the top level).
    */
  private def reconcileNested(df: org.apache.spark.sql.DataFrame,
      sch: StructType, nestedRenames: Map[String, String],
      nestedDropped: Set[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, transform, transform_values, when}
    import org.apache.spark.sql.types.{ArrayType, MapType}
    // RECURSIVE conform (any struct depth, descending array<struct>
    // elements via the path component "element" and map<_, struct>
    // values via "value" — map KEYS are lookup identity and never
    // evolve): each declared
    // subfield resolves to its physical source (renamed sub-names map
    // back), a widening cast when the file is narrower, or a typed
    // NULL when no file carries it yet; undeclared physical subfields
    // no tombstone retires keep flowing (append-only). Split into a
    // type-only NEED check and a column BUILD so the array case can
    // decide before entering the lambda.
    def subTomb(pathLower: String): Set[String] =
      nestedDropped.filter(_.startsWith(pathLower + "."))
        .map(_.drop(pathLower.length + 1)).filterNot(_.contains('.'))
    def resolveSrc(pathLower: String, sfName: String,
        phys: StructType): Option[org.apache.spark.sql.types.StructField] = {
      val physSub = nestedRenames
        .getOrElse(s"$pathLower.${sfName.toLowerCase}", sfName)
      phys.fields.find(_.name.equalsIgnoreCase(physSub))
        // a frame already carrying the LOGICAL sub-name (e.g. an
        // aligned frame re-aligned) serves it directly
        .orElse(phys.fields.find(_.name.equalsIgnoreCase(sfName)))
    }
    def needs(pathLower: String,
        declared: org.apache.spark.sql.types.DataType,
        phys: org.apache.spark.sql.types.DataType): Boolean =
      (declared, phys) match {
      case (d: StructType, p: StructType) =>
        val exactAll = d.fields.forall { sf =>
          resolveSrc(pathLower, sf.name, p).exists(ps =>
            ps.name == sf.name &&
              (ps.dataType == sf.dataType ||
                !needs(s"$pathLower.${sf.name.toLowerCase}",
                  sf.dataType, ps.dataType)))
        }
        val claimed = d.fields.flatMap(sf =>
          resolveSrc(pathLower, sf.name, p)).map(_.name.toLowerCase).toSet
        val unclaimed = p.fields.filterNot(ps => claimed(ps.name.toLowerCase))
        // any unclaimed physical field forces a rebuild: an extra must
        // be re-placed after the declared fields, a tombstoned one
        // projected away
        !(exactAll && unclaimed.isEmpty && p.length == d.length)
      case (d: ArrayType, p: ArrayType) =>
        needs(s"$pathLower.element", d.elementType, p.elementType)
      case (d: MapType, p: MapType) if d.keyType == p.keyType =>
        needs(s"$pathLower.value", d.valueType, p.valueType)
      case (d, p) => d != p && SqlDdl.isWidening(p, d)
    }
    def build(pathLower: String,
        declared: org.apache.spark.sql.types.DataType,
        src: org.apache.spark.sql.Column,
        phys: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
      (declared, phys) match {
        case (d: StructType, p: StructType) =>
          val resolved = d.fields.map { sf =>
            val subPath = s"$pathLower.${sf.name.toLowerCase}"
            val e = resolveSrc(pathLower, sf.name, p) match {
              case None => lit(null).cast(sf.dataType)
              case Some(ps) if needs(subPath, sf.dataType, ps.dataType) =>
                build(subPath, sf.dataType, src.getField(ps.name), ps.dataType)
              case Some(ps) => src.getField(ps.name)
            }
            (e.as(sf.name), resolveSrc(pathLower, sf.name, p)
              .map(_.name.toLowerCase))
          }
          val claimed = resolved.flatMap(_._2).toSet
          val tomb = subTomb(pathLower)
          val extras = p.fields.filter(ps =>
            !claimed(ps.name.toLowerCase) && !tomb(ps.name.toLowerCase))
          // rebuild in DECLARED order (positional struct casts
          // downstream — INSERT shaping, set operations — depend on
          // it); when() keeps NULL structs null, which withField would
          // have silently un-nulled
          val rebuilt = struct(
            (resolved.map(_._1) ++
              extras.map(ps => src.getField(ps.name).as(ps.name)))
              .toIndexedSeq: _*)
          when(src.isNull, lit(null)).otherwise(rebuilt)
        case (d: ArrayType, p: ArrayType) =>
          // transform() rebuilds each element lazily and preserves
          // NULL arrays; NULL elements stay null through the struct
          // case's own when() guard
          transform(src, x =>
            build(s"$pathLower.element", d.elementType, x, p.elementType))
        case (d: MapType, p: MapType) =>
          // transform_values rebuilds each value lazily and preserves
          // NULL maps; keys flow untouched (identity, never evolved)
          transform_values(src, (_, v) =>
            build(s"$pathLower.value", d.valueType, v, p.valueType))
        case (d, _) => src.cast(d) // lossless widening (gated by needs)
      }
    val declaredNested = sch.fields.filter(f =>
      f.dataType.isInstanceOf[StructType] ||
        f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType])
    if (declaredNested.isEmpty) df
    else declaredNested.foldLeft(df) { (d, f) =>
      d.schema.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(p) if needs(f.name.toLowerCase, f.dataType, p.dataType) &&
            ((p.dataType.isInstanceOf[StructType] &&
              f.dataType.isInstanceOf[StructType]) ||
             (p.dataType.isInstanceOf[ArrayType] &&
              f.dataType.isInstanceOf[ArrayType]) ||
             (p.dataType.isInstanceOf[MapType] &&
              f.dataType.isInstanceOf[MapType])) =>
          d.withColumn(p.name,
            build(f.name.toLowerCase, f.dataType, col(p.name), p.dataType))
        case _ => d // parent absent (old files: whole-column NULL comes
          // from the top-level add fold) or shape mismatch —
          // append-only, flow through
      }
    }
  }

  /** The layout's manifest-resolved PHYSICAL snapshot, un-reconciled —
    * what the files actually say. DML routes consult its schema to
    * decide whether a predicate can run layout-side (see
    * [[graft.etl.SqlMerge]]).
    */
  private[etl] def readPhysical(spark: SparkSession,
      table: String): org.apache.spark.sql.DataFrame =
    layoutOf(spark, table) match {
      case Some(("bucket", path)) => BucketTable.read(spark, path)
      case Some(("bloom", path)) => BloomTable.read(spark, path)
      case Some(("partitioned", path)) => PartitionedTable.read(spark, path)
      case Some(("timeline", path)) => Timeline.read(spark, path)
      case Some(("mor", path)) => MorTable.readSnapshot(spark, path)
      case Some(("mor_ro", path)) => MorTable.readOptimized(spark, path)
      case Some((other, _)) => throw new IllegalArgumentException(
        s"unknown layout kind '$other' on $table")
      case None => spark.table(table)
    }

  /** Layout-aware table read: the layout's manifest-resolved snapshot
    * for bound tables (reconciled with the declared schema — see
    * [[alignToDeclared]]), the plain catalog read otherwise.
    */
  def readTable(spark: SparkSession, table: String): org.apache.spark.sql.DataFrame =
    layoutOf(spark, table) match {
      case None => spark.table(table)
      case Some(_) => alignToDeclared(spark, table, readPhysical(spark, table))
    }

  /** The TBLPROPERTIES a catalog-entry rewrite must carry over: every
    * stored property — engine bindings AND user-set ones — minus the
    * keys engines auto-stamp (a Hive-ism here, but cheap insurance).
    */
  private[etl] def graftProps(spark: SparkSession,
      table: String): Map[String, String] =
    tblProps(spark, table).filterNot { case (k, _) =>
      k.startsWith("option.") || k == "transient_lastDdlTime"
    }

  /** Replace a layout-bound catalog entry's declared schema and
    * `graft.*` properties in one drop+create (v1 catalog tables cannot
    * ALTER-drop/rename a column; the entry is pure metadata over a stub
    * location, so recreating it touches no data). Single-session
    * catalog mutation — the same isolation Spark's own ALTER gives.
    */
  private[etl] def replaceEntry(spark: SparkSession, table: String,
      schema: org.apache.spark.sql.types.StructType,
      props: Map[String, String]): Unit = {
    val path = props.getOrElse("graft.table.path",
      throw new IllegalArgumentException(
        s"$table is not a layout-bound table"))
    // parse-before-drop (below) only catches SYNTAX errors; a duplicate
    // column is an ANALYSIS error that would fire after the DROP and
    // lose the entry — reject it here
    val lower = schema.fieldNames.map(_.toLowerCase)
    require(lower.distinct.length == lower.length,
      s"$table: duplicate column in replacement schema " +
        s"(${schema.fieldNames.mkString(", ")})")
    // stored values must round-trip VERBATIM — see [[sqlLit]] (a
    // validator regex like `\d+` would otherwise lose one escape level
    // per ALTER)
    val propsSql = props.toSeq.sortBy(_._1).map { case (k, v) =>
      s"'${sqlLit(k)}' = '${sqlLit(v)}'"
    }.mkString(",\n  ")
    val create =
      s"""CREATE TABLE $table (${schema.toDDL})
         |USING PARQUET LOCATION '${sqlLit(s"$path/_catalog_stub")}'
         |TBLPROPERTIES (
         |  $propsSql)""".stripMargin
    // parse BEFORE dropping: a malformed statement must fail with the
    // old entry intact, not after the DROP has deregistered the table
    spark.sessionState.sqlParser.parsePlan(create)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(create)
  }
}
