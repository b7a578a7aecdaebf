package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.UnresolvedProcedure
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.Call

/** SQL procedure front door — the `CALL` statements Hudi users run
  * for table services (`call show_commits`, `call clean`, ...),
  * parsed by Spark's own parser and dispatched to the engine's
  * services over layout-registered catalog tables. Every procedure
  * returns a DataFrame describing what it did (inspection procedures
  * return their report, mutating ones the versions/files they
  * touched), so a CALL composes with the rest of the SQL surface.
  *
  * Procedures (positional literal args):
  *   - `show_commits('t')` — the table's commit history, archived
  *     entries folded in: a timeline's instants (version, action,
  *     n_rows, archived, ts_ms); on bucket / bloom / partitioned / mor
  *     the `_commits` log (version, action, ts_ms)
  *   - `clean_commits('t', retain)` — drop all but the newest
  *     `retain` snapshot versions; returns the versions removed
  *   - `archive_commits('t', keep)` — fold all but the newest `keep`
  *     active instants into a batch log; returns the versions archived
  *   - `compact('t', num_files)` — rewrite the latest snapshot into
  *     `num_files` files as a replacecommit; returns the new version
  *   - `rollback_to_version('t', v)` — restore: make `v`'s contents
  *     the newest commit (history stays append-only); returns the
  *     new version
  *   - `run_compaction('t')` — fold a MOR table's delta logs into a
  *     new base generation; returns the new base version
  *   - `clean('t')` — file-level retention for bucket / bloom /
  *     partitioned / mor layouts; returns the data files/dirs removed
  *   - `purge_key('t', k, ...)` — right-to-be-forgotten: erase one
  *     record from the table AND every bound index artifact (record
  *     index / secondary index), each via its targeted rewrite; on a
  *     partitioned table the key's identity resolves THROUGH the
  *     record-level index (no partition value needed); returns one
  *     row per artifact touched
  *   - `reconcile_index('t')` — force the covered-head check +
  *     reconcile-on-read every index-served route runs implicitly;
  *     the operator's explicit repair verb after a writer crash or a
  *     bypassing bulk load
  *   - `create_savepoint('t', name)` / `show_savepoints('t')` /
  *     `rollback_to_savepoint('t', name)` / `delete_savepoint('t',
  *     name)` / `read_savepoint('t', name)` — Hudi's savepoint
  *     procedure family over bucket / partitioned / bloom / mor /
  *     timeline tables: pin the current state, list pins, restore one
  *     (pin-aware cleaning keeps pinned generations readable),
  *     release a pin, or time-travel-read a pin without restoring
  *   - `incremental_read('t', from[, to])` — the incremental pull per
  *     layout (timeline change set / MOR log pull / partition pull /
  *     bucket commit-log pull / bloom file-add pull)
  *   - `table_changes('t', since)` — row-level CDC from the delta log
  *     (partitioned | mor), each row stamped with commit seq + deleted
  *   - `show_fsview('t')` — one-stop table health: live/pinned/
  *     history/debris file counts and bytes, delta-log depth, CDC
  *     head/floor, savepoint and index counts (Hudi's show_fsview_all)
  *   - `show_bootstrap_mapping('t')` — the external source files/dirs
  *     a metadata-only-bootstrapped mor/bloom table still serves in
  *     place (Hudi's procedure of the same name; a row here means the
  *     source lake is still load-bearing and must not be deleted)
  */
object SqlCall {

  def exec(spark: SparkSession, sqlText: String): DataFrame =
    spark.sessionState.sqlParser.parsePlan(sqlText) match {
      case c: Call =>
        val name = c.procedure match {
          case UnresolvedProcedure(parts) => parts.mkString(".").toLowerCase
          case other => throw new IllegalArgumentException(
            s"cannot resolve procedure from ${other.getClass.getSimpleName}")
        }
        val argv: Seq[Any] = c.args.map {
          case Literal(v, dt) => CatalystTypeConverters.convertToScala(v, dt)
          case other => throw new IllegalArgumentException(
            s"CALL arguments must be literals, got: ${other.sql}")
        }
        run(spark, name, argv)
      case other => throw new IllegalArgumentException(
        s"not a CALL statement: ${other.getClass.getSimpleName}")
    }

  /** Savepoints pin committed state — generation manifests (bucket /
    * partitioned), file manifests (bloom), base + delta windows (MOR),
    * snapshot versions (timeline); every layout supports the full
    * lifecycle through [[TableLayout]].
    */
  private def savepointLayout(spark: SparkSession,
      table: String): (TableLayout, String) =
    Layout.of(spark, table,
      "savepoints pin bucket | partitioned | bloom | mor | timeline state")

  private def timelinePathOf(spark: SparkSession, table: String): String =
    Catalog.layoutOf(spark, table) match {
      case Some(("timeline", p)) => p
      case other => throw new IllegalArgumentException(
        s"$table is not a timeline-registered table" +
          other.fold("")(kp => s" (layout: ${kp._1})"))
    }

  private def toInt(x: Any, what: String): Int = x match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer, got: $other")
  }

  private def run(spark: SparkSession, name: String,
      argv: Seq[Any]): DataFrame = {
    import spark.implicits._
    (name, argv) match {
      case ("show_commits", Seq(t: String)) =>
        val (layout, p) = Layout.of(spark, t, "show_commits needs a layout-bound table")
        layout.showCommits(spark, p)
      case ("clean_commits", Seq(t: String, retain)) =>
        Timeline.cleanVersions(timelinePathOf(spark, t),
          toInt(retain, "retain")).toDF("version")
      case ("archive_commits", Seq(t: String, keep)) =>
        // timeline: fold instant FILES into a batch log; the others fold
        // the `_commits` LINE log into `_commits_archive` — either way
        // the active metadata a commit/pull reads stays bounded and old
        // cursors resolve through the archive
        val (layout, p) = Layout.of(spark, t, "archive_commits needs a layout-bound table")
        layout.archiveCommits(p, toInt(keep, "keep")).toDF("version")
      case ("compact", Seq(t: String, n)) =>
        Seq(Timeline.compact(spark, timelinePathOf(spark, t),
          toInt(n, "num_files"))).toDF("version")
      case ("rollback_to_version", Seq(t: String, v)) =>
        Seq(Timeline.restore(spark, timelinePathOf(spark, t),
          toInt(v, "version").toLong)).toDF("version")
      case ("run_compaction", Seq(t: String)) =>
        // Hudi's compaction procedure: fold a MOR table's delta logs
        // into a new base generation; readers holding the old pointer
        // keep working off the immutable old dirs until clean()
        val path = Catalog.layoutOf(spark, t) match {
          case Some(("mor", p)) => p
          case other => throw new IllegalArgumentException(
            s"run_compaction('$t'): not a MOR-layout table" +
              other.fold("")(kp => s" (layout: ${kp._1})"))
        }
        Seq(MorTable.compact(spark, path)).toDF("base_version")
      case ("clean", Seq(t: String)) =>
        cleanTable(spark, t, 0)
      case ("clean", Seq(t: String, keep)) =>
        // KEEP_LATEST_COMMITS retention: the newest `keep` versions
        // stay VERSION AS OF-readable after the sweep, loud outside
        cleanTable(spark, t, toInt(keep, "keep"))
      case ("purge_key", args) if args.length >= 2 &&
          args.head.isInstanceOf[String] =>
        purgeKey(spark, args.head.asInstanceOf[String], args.tail)
      case ("run_clustering", Seq(t: String, sortCols: String)) =>
        // Hudi's clustering procedure: rewrite the layout sorted by the
        // given columns so file-level zone maps tighten (the
        // replacecommit generation is returned; superseded files stay
        // readable until clean). Partitioned: range files per slice;
        // bucket: range-disjoint files per bucket, routing untouched;
        // bloom: sort-range files, filter index rebuilt; mor: the
        // table is one file group, so clustering schedules AS a
        // compaction that writes the folded base sorted.
        val cols = sortCols.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val (layout, p) = Layout.of(spark, t, "run_clustering supports " +
          "partitioned | bucket | bloom | mor | timeline layouts")
        val gen = layout.cluster(spark, p, cols)
        Seq(gen).toDF("generation")
      case ("run_bootstrap",
          Seq(t: String, src: String, dst: String, keys: String, pc: String)) =>
        // Hudi's METADATA_ONLY bootstrap as a procedure: onboard an
        // existing parquet directory as a MOR table (no data rewrite)
        // and register it in the catalog in one CALL
        MorTable.bootstrap(spark, src, dst,
          keys.split(',').map(_.trim).filter(_.nonEmpty).toSeq, pc)
        Catalog.registerLayoutTable(spark, t, "mor", dst)
        Seq((t, dst)).toDF("table", "path")
      case ("run_bootstrap", Seq(t: String, src: String, dst: String,
          keys: String, pc: String, layout: String)) =>
        // layout-selecting bootstrap (Hudi's modes): METADATA_ONLY
        // where the layout serves in-place files (mor: source as base
        // generation 0; bloom: source files in the manifest, index
        // built with one scan), FULL_RECORD where placement is
        // prescribed (bucket: hash routing demands the rewrite;
        // partitioned: takes the partition columns as a 7th argument)
        val ks = keys.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        layout match {
          case "mor" => MorTable.bootstrap(spark, src, dst, ks, pc)
          case "bloom" => BloomTable.bootstrap(spark, src, dst, ks, pc)
          case "bucket" =>
            BucketTable.create(spark.read.parquet(src), dst,
              keys = ks, precombine = pc)
          case "timeline" =>
            // FULL_RECORD by contract: every timeline version is a
            // self-contained snapshot dir (`v=N`) that purge/clean
            // rewrite IN PLACE — mapping external source files into v0
            // would leave history mutable from outside the table and
            // break both verbs. One precombined snapshot commit is the
            // whole onboarding; the source dir is never touched again.
            Timeline.upsertInto(spark, dst, spark.read.parquet(src),
              keys = ks, precombine = pc)
          case other => throw new IllegalArgumentException(
            s"run_bootstrap('$t', ..., '$other'): layouts are mor | " +
              "bloom (metadata-only) | bucket | timeline (full-record); " +
              "partitioned needs the partition columns — " +
              "run_bootstrap(t, src, dst, keys, pc, 'partitioned', cols)")
        }
        // the timeline layout persists no key config of its own, so its
        // registration declares it (the other layouts' props carry it)
        if (layout == "timeline")
          Catalog.registerTimelineTable(spark, t, dst, ks, pc)
        else Catalog.registerLayoutTable(spark, t, layout, dst)
        Seq((t, dst)).toDF("table", "path")
      case ("run_bootstrap", Seq(t: String, src: String, dst: String,
          keys: String, pc: String, "partitioned", partCols: String)) =>
        // FULL_RECORD onboarding into the partitioned layout — a
        // CONTRACTED design decision, not a gap: this layout's slices
        // are shadow-named dirs (`__p_col=val`) with the partition
        // column kept IN-FILE (so renames/typed reads never depend on
        // dir-name parsing), which an external Hive-layout dir
        // (`col=val`, column absent from files) structurally is not —
        // mapping such dirs in place would break every touched-dir
        // routing join. The rewrite is therefore inherent, exactly
        // Hudi's FULL_RECORD mode; metadata-only onboarding is the
        // mor/bloom routes' job.
        PartitionedTable.create(spark.read.parquet(src), dst,
          keys = keys.split(',').map(_.trim).filter(_.nonEmpty).toSeq,
          precombine = pc,
          partitionCols = partCols.split(',').map(_.trim)
            .filter(_.nonEmpty).toSeq)
        Catalog.registerLayoutTable(spark, t, "partitioned", dst)
        Seq((t, dst)).toDF("table", "path")
      case ("show_partitions", Seq(t: String)) =>
        // Hudi's SHOW PARTITIONS: the manifest's live slices with the
        // generation that last rewrote each — metadata only, no listing
        val path = Catalog.layoutOf(spark, t) match {
          case Some(("partitioned", p)) => p
          case other => throw new IllegalArgumentException(
            s"show_partitions('$t'): not a partitioned-layout table" +
              other.fold("")(kp => s" (layout: ${kp._1})"))
        }
        PartitionedTable.manifest(path).toSeq.sorted
          .toDF("partition", "generation")
      case ("show_bootstrap_mapping", Seq(t: String)) =>
        // Hudi's show_bootstrap_mapping: which EXTERNAL source files/dirs
        // a metadata-only-bootstrapped table still serves IN PLACE —
        // the introspection an operator needs before decommissioning
        // the source lake (a row here = the source is still load-bearing)
        val (kind, path) = Catalog.layoutOf(spark, t).getOrElse(
          throw new IllegalArgumentException(
            s"$t is not a layout-registered table"))
        kind match {
          case "mor" =>
            MorTable.bootstrapMapping(path) match {
              case Some((src, inPlace)) =>
                Seq((src, if (inPlace) "in_place" else "migrated"))
                  .toDF("source", "status")
              case None => Seq.empty[(String, String)].toDF("source", "status")
            }
          case "bloom" =>
            // external manifest entries are absolute paths; owned
            // commits are c=N/... relative — the split IS the mapping
            BloomTable.manifest(path).filter(_.startsWith("/")).sorted
              .map((_, "in_place")).toDF("source", "status")
          case other => throw new IllegalArgumentException(
            s"show_bootstrap_mapping('$t'): only the metadata-only " +
              s"bootstrap layouts (mor | bloom) hold external mappings; " +
              s"'$other' tables are FULL_RECORD by contract — nothing " +
              "external is ever load-bearing")
        }
      case ("show_fsview", Seq(t: String)) =>
        fsView(spark, t)
      case ("show_files", Seq(t: String)) =>
        // Hudi's show_fsview: the file set the CURRENT snapshot
        // resolves to (any layout) — what a reader would actually open
        Catalog.readPhysical(spark, t).inputFiles.sorted.toSeq.toDF("file")
      case ("show_schema_state", Seq(t: String)) =>
        // the schema-on-read mapping, human-readable: which logical
        // columns live under another physical name, and which physical
        // names are tombstoned (still in files, projected away on read)
        val renames = Catalog.renamesOf(spark, t).toSeq.sorted
          .map { case (log, phys) => ("renamed", log, phys) }
        val dropped = Catalog.droppedOf(spark, t).toSeq.sorted
          .map(p => ("dropped", "", p))
        (renames ++ dropped).toDF("kind", "logical", "physical")
      case ("show_indexes", Seq(t: String)) =>
        Catalog.indexesOf(spark, t).toSeq.sortBy(_._1)
          .map { case (n, (tpe, artifact)) => (n, tpe, artifact) }
          .toDF("index_name", "index_type", "artifact")
      case ("reconcile_index", Seq(t: String)) =>
        // force the covered-head check + reconcile-on-read that every
        // index-served route runs implicitly (SecondaryIndex
        // .ensureCurrent) — the operator's explicit repair verb after
        // a writer crash or a bypassing bulk load
        val (layout, path) = Layout.of(spark, t,
          "reconcile_index needs a layout-registered table")
        layout.boundIndexArtifacts(path).map { case (tpe, idx) =>
          SecondaryIndex.ensureCurrent(spark, layout.kind, path, idx)
          (tpe, idx, SecondaryIndex.coveredHead(idx))
        }.toDF("index_type", "artifact", "covered_head")
      case ("incremental_read", Seq(t: String, from)) =>
        incrementalRead(spark, t, toLongArg(from, "from"), None)
      case ("incremental_read", Seq(t: String, from, to)) =>
        incrementalRead(spark, t, toLongArg(from, "from"),
          Some(toLongArg(to, "to")))
      case ("table_changes", Seq(t: String, since)) =>
        // Hudi's hudi_table_changes: row-LEVEL CDC from the delta log —
        // each changed row stamped with its commit seq (`change_seq`)
        // and tombstone flag (`deleted`), the SAME output contract on
        // every layout; O(changes) read, no base scan. Change seqs are
        // GLOBALLY MONOTONIC (they survive compaction on both layouts),
        // so a cursor is valid iff it sits in [compactedThrough, head]:
        // above the head it's from the future (reject), below the floor
        // its unseen window was folded into the base — both fail loudly
        // toward a snapshot re-sync (the floor check lives in
        // changesSince / incrementalRead so programmatic consumers get
        // it too). Log-backed layouts only (a CoW layout has no
        // row-level change log; use incremental_read's diff/partition
        // pulls there).
        import org.apache.spark.sql.functions.{coalesce, col, lit}
        val sinceSeq = toLongArg(since, "since")
        def requireNotFuture(head: Long): Unit = require(sinceSeq <= head,
          s"table_changes('$t', $sinceSeq): cursor past the change head " +
            s"$head — checkpoint only sequences the feed has served")
        Catalog.layoutOf(spark, t) match {
          case Some(("partitioned", p)) =>
            requireNotFuture(PartitionedTable.changeHead(p))
            Catalog.alignToDeclared(spark, t,
              PartitionedTable.changesSince(spark, p, sinceSeq))
          case Some(("mor", p)) =>
            requireNotFuture(MorTable.changeHead(p))
            val raw = MorTable.incrementalRead(spark, p, sinceSeq)
            Catalog.alignToDeclared(spark, t, raw
              .withColumnRenamed("_seq", "change_seq")
              .withColumn("deleted", coalesce(col("_deleted"), lit(false)))
              .drop("_deleted"))
          case other => throw new IllegalArgumentException(
            s"table_changes('$t'): row-level CDC needs a delta-log " +
              "layout (partitioned | mor)" +
              other.fold("")(kp => s"; layout: ${kp._1}"))
        }
      case ("table_changes", Seq(t: String, since, mode: String)) =>
        // Hudi 0.13 cdc mode (`hoodie.table.cdc.enabled`): before/after
        // IMAGES with an op column — exact deletes and update priors,
        // on MOR and bucket alike (the post-image/restatement gap the
        // plain feeds have). Images are written at commit time
        // (CdcLog's two-phase stage/publish), so the feed survives
        // compaction/clustering and fails loudly on destructive
        // windows. Served in the WRITE schema, like Hudi's cdc log.
        require(mode == "cdc",
          s"table_changes('$t', ..., '$mode'): the only mode is 'cdc'")
        val (layout, p) = Layout.of(spark, t,
          "table_changes(..., 'cdc') needs a layout-bound table")
        layout.changesCdc(spark, p, toLongArg(since, "since"))
      case ("enable_cdc", Seq(t: String)) =>
        val (layout, p) = Layout.of(spark, t,
          "enable_cdc needs a layout-bound table")
        layout.enableCdc(p)
        Seq(t).toDF("cdc_enabled")
      case ("create_savepoint", Seq(t: String, sp: String)) =>
        val (layout, p) = savepointLayout(spark, t)
        layout.savepoint(p, sp)
        Seq(sp).toDF("savepoint")
      case ("show_savepoints", Seq(t: String)) =>
        val (layout, p) = savepointLayout(spark, t)
        layout.savepoints(p).toDF("savepoint")
      case ("rollback_to_savepoint", Seq(t: String, sp: String)) =>
        val (layout, p) = savepointLayout(spark, t)
        layout.restoreSavepoint(spark, p, sp)
        Seq(sp).toDF("savepoint")
      case ("delete_savepoint", Seq(t: String, sp: String)) =>
        val (layout, p) = savepointLayout(spark, t)
        layout.dropSavepoint(p, sp)
        Seq(sp).toDF("savepoint")
      case ("read_savepoint", Seq(t: String, sp: String)) =>
        // time-travel read of a pinned state WITHOUT restoring it —
        // the live table is untouched (pin-aware cleaning keeps the
        // pinned generations readable)
        val (layout, p) = savepointLayout(spark, t)
        Catalog.alignToDeclared(spark, t, layout.readSavepoint(spark, p, sp))
      case (other, args) => throw new IllegalArgumentException(
        s"unknown procedure '$other'/${args.length} (supported: " +
          "show_commits, clean_commits, archive_commits, compact, " +
          "run_compaction, rollback_to_version, clean, purge_key, " +
          "show_indexes, reconcile_index, show_schema_state, " +
          "show_partitions, show_files, " +
          "show_fsview, show_bootstrap_mapping, "
          + "run_clustering, run_bootstrap, incremental_read, " +
          "table_changes, enable_cdc, " +
          "create_savepoint, show_savepoints, rollback_to_savepoint, " +
          "delete_savepoint, read_savepoint)")
    }
  }

  private def toLongArg(x: Any, what: String): Long = x match {
    case i: Int => i.toLong
    case l: Long => l
    case other => throw new IllegalArgumentException(
      s"$what must be an integer, got: $other")
  }

  /** `CALL incremental_read('t', from[, to])` — the SQL front door for
    * the engine's incremental pulls (Hudi's `hudi_table_changes` /
    * incremental-query surface), dispatched by layout:
    *   - timeline: row-level change set between commits — with `to`,
    *     the explicit window `[from, to]`
    *     ([[Timeline.incrementalRead]]); without, a checkpointed
    *     consumer's catch-up `from → latest`
    *     ([[Timeline.incrementalPull]]), which resolves through the
    *     FULL history so a checkpoint behind an archive boundary still
    *     works. Returns `(keys..., change_type)`.
    *   - mor: the records appended after log sequence `from` — reads
    *     only the new logs, O(changes), no base scan
    *     ([[MorTable.incrementalRead]]; tombstones exposed).
    *   - partitioned: the current content of every partition rewritten
    *     after generation `from` — O(changed partitions)
    *     ([[PartitionedTable.incrementalRead]]).
    * Data-bearing results reconcile through the schema-on-read mapping
    * like every other front-door read.
    */
  private def incrementalRead(spark: SparkSession, t: String,
      from: Long, to: Option[Long]): DataFrame =
    Catalog.layoutOf(spark, t) match {
      case Some(("timeline", p)) =>
        val keys = Catalog.upsertConfigFull(spark, t)._1
        to match {
          case Some(v) => Timeline.incrementalRead(spark, p, keys, from, v)
          case None => Timeline.incrementalPull(spark, p, keys, from)
        }
      case Some(("mor", p)) =>
        require(to.isEmpty,
          s"incremental_read('$t'): a MOR pull reads from a log " +
            "sequence to latest — pass only the checkpointed sequence")
        Catalog.alignToDeclared(spark, t, MorTable.incrementalRead(spark, p, from))
      case Some(("partitioned", p)) =>
        require(to.isEmpty,
          s"incremental_read('$t'): a partitioned pull reads from a " +
            "generation to latest — pass only the checkpointed generation")
        Catalog.alignToDeclared(spark, t,
          PartitionedTable.incrementalRead(spark, p, from))
      case Some(("bucket", p)) =>
        // the CoW bucket layout's commit-log pull: current content of
        // every bucket rewritten after commit `from` (the bucket twin
        // of the partitioned generation pull) — O(changed buckets)
        require(to.isEmpty,
          s"incremental_read('$t'): a bucket pull reads from a commit " +
            "number to latest — pass only the checkpointed commit")
        Catalog.alignToDeclared(spark, t,
          BucketTable.changedSince(spark, p, from))
      case Some(("bloom", p)) =>
        // file-add feed over the bloom layout's commit dirs; a
        // row-removing commit in the window raises loudly (see
        // BloomTable.changedSince)
        require(to.isEmpty,
          s"incremental_read('$t'): a bloom pull reads from a commit " +
            "number to latest — pass only the checkpointed commit")
        Catalog.alignToDeclared(spark, t,
          BloomTable.changedSince(spark, p, from))
      case other => throw new IllegalArgumentException(
        s"incremental_read('$t'): supported layouts are timeline | mor " +
          "| partitioned | bucket | bloom" +
          other.fold("")(kp => s"; layout: ${kp._1}"))
    }

  private def cleanTable(spark: SparkSession, t: String,
      keep: Int): DataFrame = {
    import spark.implicits._
    val (layout, p) = Layout.of(spark, t, "clean needs a layout-registered table")
    val removed = layout.clean(p, keep)
    removed.toDF("file")
  }

  /** `CALL show_fsview('t')` — the operator's one-stop table health
    * view (Hudi's `show_fsview_all` role): file counts and bytes split
    * into LIVE (what the current snapshot resolves), PINNED (referenced
    * only by savepoints — retained, not reclaimable) and DEBRIS
    * (superseded or orphaned — what `clean` would reclaim), plus the
    * delta-log depth (pending commits a snapshot read must merge — the
    * compaction-scheduling signal), the CDC head/floor, savepoint and
    * index counts. Metadata-plane only: one directory walk + the
    * manifests already in hand, no data read. On a timeline layout the
    * non-current versions are HISTORY (addressable via time travel /
    * `show_commits`), reported under `history_*`, never debris.
    */
  private def fsView(spark: SparkSession, t: String): DataFrame = {
    import spark.implicits._
    // live = what the TABLE's current state references. A `mor_ro`
    // entry is a read view of a MOR table: its health is the table's,
    // and its live set the SNAPSHOT's (base + live logs) — the RO
    // binding narrows the read, not the table, and classifying live
    // delta logs as debris would invite an operator to reclaim
    // unconsumed data
    val (layout, path, snapshot) = Catalog.layoutOf(spark, t) match {
      case Some(("mor_ro", p)) => (MorTable, p, MorTable.readSnapshot(spark, p))
      case _ =>
        val (l, p) = Layout.of(spark, t, "show_fsview needs a layout-registered table")
        (l, p, Catalog.readPhysical(spark, t))
    }
    def walk(dir: String): Seq[(String, Long)] = {
      val p = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(p)) Seq.empty
      else {
        val s = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(f => java.nio.file.Files.isRegularFile(f) &&
              f.toString.endsWith(".parquet") &&
              // exclude internal artifacts co-located under the table
              // (_rli record index, _index bloom sidecar): they are
              // index state accounted by `indexes`, never data debris.
              // Partition-value dirs (`__bucket=N`, shadow cols) carry
              // '=' and are data — only bare underscore dirs are internal
              !p.relativize(f).iterator().asScala.exists(seg =>
                seg.toString.startsWith("_") && !seg.toString.contains('=')))
            .map(f => (f.toAbsolutePath.toString, java.nio.file.Files.size(f)))
            .toSeq
        } finally s.close()
      }
    }
    def norm(f: String): String =
      f.replaceFirst("^file:/+", "/")
    val all = walk(path)
    val live = snapshot.inputFiles.map(norm).toSet
    // savepoint-pinned state: readable via read_savepoint, kept by
    // clean; on a layout that keeps history every non-live file is
    // history instead
    val (pinned, history) =
      if (layout.keepsHistory) (Set.empty[String], all.map(_._1).toSet -- live)
      else (layout.savepoints(path).flatMap(sp =>
        layout.readSavepoint(spark, path, sp).inputFiles).map(norm).toSet -- live,
        Set.empty[String])
    val debris = all.filterNot(f =>
      live(f._1) || pinned(f._1) || history(f._1))
    def bytes(fs: Seq[(String, Long)]) = fs.map(_._2).sum
    val liveFs = all.filter(f => live(f._1))
    val pinnedFs = all.filter(f => pinned(f._1))
    val historyFs = all.filter(f => history(f._1))
    val (pending, head, floor) = layout.changeCounts(path)
    val savepoints = layout.savepoints(path).size.toLong
    val indexes = Catalog.indexesOf(spark, t).size.toLong
    Seq(
      "live_files" -> liveFs.size.toLong,
      "live_bytes" -> bytes(liveFs),
      "pinned_files" -> pinnedFs.size.toLong,
      "pinned_bytes" -> bytes(pinnedFs),
      "history_files" -> historyFs.size.toLong,
      "history_bytes" -> bytes(historyFs),
      "debris_files" -> debris.size.toLong,
      "debris_bytes" -> bytes(debris),
      "delta_commits_pending" -> pending,
      "change_head" -> head,
      "compacted_through" -> floor,
      "savepoints" -> savepoints,
      "indexes" -> indexes
    ).toDF("metric", "value")
  }

  /** `purge_key('t', k, ...)` — the right-to-be-forgotten procedure a
    * training-data lake runs on a removal request: erase one record
    * from the TABLE and from EVERY index artifact bound to it, each
    * through its own targeted O(touched) path, never a table rewrite.
    *   - bloom layout: `BloomTable.deleteFrom` (candidate-file rewrite)
    *     + `RecordIndex.refresh(staleKeys=...)` when an RLI exists, so
    *     the key's index entry is purged — not left to lazy self-heal.
    *   - bucket layout: the row's secondary values are resolved FIRST
    *     (they're unreachable after the delete), the secondary index
    *     tombstones those mappings, then `BucketTable.deleteFrom`
    *     rewrites only the key's bucket.
    * Returns one row per artifact touched.
    */
  private def purgeKey(spark: SparkSession, t: String,
      keyArgs: Seq[Any]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val (layout, path) = Layout.of(spark, t, "purge_key needs a layout-registered table")
    val keys = Catalog.upsertConfigFull(spark, t)._1
    require(keyArgs.length == keys.length,
      s"purge_key('$t', ...) needs ${keys.length} key values " +
        s"(${keys.mkString(",")}), got ${keyArgs.length}")
    // LAZY: the timeline branch must not read the table before its
    // purge has repaired an interrupted swap (the read would fail on
    // the absent live dir the repair is about to restore)
    lazy val keysDf = {
      val schema = Catalog.readTable(spark, t).schema
      Layout.literalRow(spark, keys.map(k => k -> schema(k).dataType), keyArgs)
    }
    // a bound secondary index reconciles inside each layout's delete
    def sec = layout.boundSecondaryIndexes(path).map { case (_, idxPath) =>
      "secondary_index" -> s"reconciled=$idxPath" }
    (layout match {
      case BloomTable =>
        // the engine-bound secondary index (when any) retires the key's
        // mappings inside the delete commit
        val rewritten = BloomTable.deleteFrom(spark, path, keysDf)
        val rli =
          if (!RecordIndex.exists(path)) Nil
          else {
            val shards = RecordIndex.refresh(spark, path,
              staleKeys = Some(keysDf))
            Seq("record_index" -> s"shards_refreshed=${shards.size}")
          }
        Seq("table" -> s"files_rewritten=${rewritten.size}") ++ rli ++ sec
      case BucketTable =>
        // the engine binding captures the row's mappings in its
        // pre-probe and retires them inside the delete commit — no
        // SQL-layer resolve-then-tombstone dance (and no crash window
        // between the two: a torn maintenance pass is caught by the
        // covered-head serve check)
        val buckets = BucketTable.deleteFrom(spark, path, keysDf)
        Seq("table" -> s"buckets_rewritten=${buckets.size}") ++ sec
      case PartitionedTable =>
        // the key arrives WITHOUT its partition value (that is the
        // point of a global purge) — the record-level index resolves
        // key → identity from one probed bucket, and the delete
        // rewrites only the slices those identities route to; without
        // an RLI the resolution is a discovery scan (loud in the
        // report), the delete itself stays O(touched slices)
        val (ids, how) = PartitionedTable.boundRecordIndex(path) match {
          case Some(rliPath) =>
            SecondaryIndex.ensureCurrent(spark, "partitioned", path, rliPath)
            (SecondaryIndex.lookupPartitionedIds(spark, path, rliPath,
              keyArgs).localCheckpoint(), s"rli=$rliPath")
          case None =>
            val p = PartitionedTable.props(path)
            (Catalog.readPhysical(spark, t)
              .filter(keys.zip(keyArgs).map { case (k, v) =>
                col(k) === lit(v) }.reduce(_ && _))
              .select(p.identity.map(col): _*).distinct().localCheckpoint(),
              "full_scan")
        }
        val rewritten = PartitionedTable.deleteFrom(spark, path, ids)
        Seq("table" -> s"slices_rewritten=${rewritten.size}",
          "resolution" -> how) ++ sec
      case MorTable =>
        // MOR purge = a tombstone append carrying the victim's own
        // precombine (equal precombine → the later commit wins the
        // snapshot merge, Hudi's _hoodie_is_deleted contract). The
        // victim resolution is one keyed probe of the merged snapshot —
        // the price ANY point read pays on a one-file-group layout —
        // and the physical bytes leave at the next compaction; a bound
        // covering index reconciles inside the append
        val p = MorTable.props(path)
        val victims = MorTable.readSnapshot(spark, path)
          .join(broadcast(keysDf), keys.toSeq, "left_semi")
          .select((p.keys :+ p.precombine).map(col): _*)
          .localCheckpoint()
        val n = victims.count()
        if (n > 0) MorTable.deleteFrom(path, victims)
        Seq("table" -> s"tombstoned=$n") ++ sec
      case Timeline =>
        // the VERSIONED layout's purge is a HISTORY rewrite: the key
        // leaves every retained snapshot (Timeline.purgeKey — versions
        // it never reached stay byte-identical), because a versioned
        // lake that cannot purge PII from history cannot lawfully hold
        // it; instant row counts refresh so show_commits stays truthful
        val rewritten = Timeline.purgeKey(spark, path, keys, keyArgs)
        Seq("table" -> ("versions_rewritten=" + rewritten.size +
          (if (rewritten.isEmpty) ""
           else s" (${rewritten.mkString(",")})")))
    }).toDF("artifact", "detail")
  }
}
