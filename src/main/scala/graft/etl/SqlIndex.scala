package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.plans.logical.{CreateIndex, DropIndex, LogicalPlan}

/** SQL index DDL — `CREATE INDEX` / `DROP INDEX` parsed by Spark's own
  * parser (the DSv2 index grammar) and dispatched to the engine's
  * index kinds over layout-registered catalog tables, the analog of
  * Hudi's `CREATE INDEX ... USING ...` SQL surface. A created index is
  * BOUND on the table's TBLPROPERTIES, so the existing read/DML routes
  * pick it up with no further user action: a secondary index serves
  * equality SELECTs and index-composed DELETEs and is maintained by
  * every front-door write; a record index serves SQL point reads; a
  * column-stats index drives zone-map data skipping.
  *
  * Index types (USING clause):
  *   - `SECONDARY (cols...)` on a bucket/bloom/mor/partitioned/
  *     timeline-layout table → the layout's [[SecondaryIndex]]
  *     variant (covering over the latest version on timeline —
  *     Hudi tables are timeline-bearing and still serve indexed point
  *     reads, so must ours); bound via
  *     `graft.table.secondaryIndex` (a LIST — a table may bind several
  *     secondary indexes, one per query pattern; only a duplicate
  *     column set is refused).
  *   - `RECORD (key cols)` on a bloom-layout table →
  *     [[RecordIndex.build]] (the RLI maps record key → file), or on
  *     a partitioned-layout table →
  *     [[SecondaryIndex.createPartitionedRecord]] (the GLOBAL key →
  *     partition index; the listed columns must be the table's
  *     primary key).
  *   - `COLUMN_STATS (cols...)` on a bucket/bloom-layout table →
  *     [[StatsIndex.buildFromFiles]] over the live manifest; bound via
  *     `graft.table.statsIndex`. A column may carry
  *     `OPTIONS (expr '<sql>')` to index a derived value — the
  *     functional index (`name:=expr` entries). One per table.
  *
  * Every created index is also recorded as
  * `graft.index.<name> = '<type>:<artifact>'` — the registry `DROP
  * INDEX` resolves (unbind + delete the artifact) and
  * `CALL show_indexes('t')` lists.
  */
object SqlIndex {

  def exec(spark: SparkSession, sqlText: String): DataFrame =
    spark.sessionState.sqlParser.parsePlan(sqlText) match {
      case c: CreateIndex => createIndex(spark, c)
      case d: DropIndex => dropIndex(spark, d)
      case other => throw new IllegalArgumentException(
        s"not an index DDL statement: ${other.getClass.getSimpleName}")
    }

  private def tableOf(plan: LogicalPlan): String = plan.collectFirst {
    case t: UnresolvedTable => t.multipartIdentifier.mkString(".")
    case r: UnresolvedRelation => r.multipartIdentifier.mkString(".")
  }.getOrElse(throw new IllegalArgumentException(
    s"cannot resolve the index's target table from: $plan"))

  private def report(spark: SparkSession,
      rows: Seq[(String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("index_name", "index_type", "artifact")
  }

  private def createIndex(spark: SparkSession, c: CreateIndex): DataFrame = {
    val target = tableOf(c.table)
    val (kind, path) = Catalog.layoutOf(spark, target).getOrElse(
      throw new IllegalArgumentException(
        s"$target is not a layout-registered table — indexes attach to " +
          "engine-managed layouts"))
    Catalog.indexesOf(spark, target).get(c.indexName) match {
      case Some((tpe, artifact)) =>
        if (c.ignoreIfExists) return report(spark,
          Seq((c.indexName, tpe, artifact)))
        throw new IllegalArgumentException(
          s"index '${c.indexName}' already exists on $target (type $tpe)")
      case None => ()
    }
    // a column may carry OPTIONS (expr '<sql>') → functional entry
    val cols = c.columns.map { case (f, opts) =>
      val name = f.name.mkString(".")
      opts.get("expr").fold(name)(e => s"$name:=$e")
    }
    require(cols.nonEmpty, s"CREATE INDEX ${c.indexName}: no columns listed")
    // index build + every maintenance pass evaluate over PHYSICAL
    // frames — a column living behind the schema-on-read rename map
    // (or a dropped one) cannot be indexed under its logical name
    val remapped = Catalog.renamesOf(spark, target).keySet ++
      Catalog.droppedOf(spark, target)
    val referenced = c.columns.flatMap { case (f, opts) =>
      opts.get("expr") match {
        case Some(e) => spark.sessionState.sqlParser.parseExpression(e)
          .collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              a.nameParts.last
          }
        case None => Seq(f.name.mkString("."))
      }
    }
    referenced.map(_.toLowerCase).find(remapped).foreach(cn =>
      throw new IllegalArgumentException(
        s"CREATE INDEX ${c.indexName}: column '$cn' is schema-on-read " +
          s"remapped (renamed or dropped) on $target — indexes bind " +
          "physical columns; rename it back before indexing"))
    // a DEFAULTed column's logical value can differ from its physical
    // one (NULL/absent cells read as the default) — an index built over
    // physical values would miss every defaulted row on serve
    val defaulted = Catalog.defaultsOf(spark, target).keySet
    referenced.map(_.toLowerCase).find(defaulted).foreach(cn =>
      throw new IllegalArgumentException(
        s"CREATE INDEX ${c.indexName}: column '$cn' carries a declared " +
          s"DEFAULT on $target — physical values diverge from the " +
          "served (coalesced) ones; materialize the column first"))
    val tpe = c.indexType.toLowerCase
    val artifact = tpe match {
      case "secondary" =>
        require(kind == "bucket" || kind == "mor" || kind == "partitioned" ||
            kind == "bloom" || kind == "timeline",
          s"USING SECONDARY needs a bucket-, bloom-, mor-, partitioned- " +
            s"or timeline-layout table; $target is '$kind'")
        // a table may bind SEVERAL secondary indexes (one per query
        // pattern) — only an exact-duplicate column set is refused
        val existingSec = Catalog.secondaryIndexesOf(spark, target)
        require(!existingSec.exists(_._1.map(_.toLowerCase).toSet ==
            cols.map(_.toLowerCase).toSet),
          s"$target already binds a secondary index over " +
            s"(${cols.mkString(",")})")
        require(cols.forall(!_.contains(":=")),
          "a secondary index takes plain columns, not expressions")
        val idxPath = s"${path}_idx_${c.indexName}"
        // bucket/bloom primaries keep a (sec, key) mapping index (hits
        // are an O(probed buckets) / O(candidate files) keyed fetch); a
        // MOR primary is one file group — any keyed fetch is a merge
        // scan — so its index is COVERING; a partitioned primary keeps
        // a (sec, identity) mapping index — hits resolve identities and
        // one lookupMany reads only the slices they route to. Every
        // variant is ENGINE-bound (a table-dir `_secidx` file), so
        // programmatic writers maintain it too, and every variant
        // records the covered commit head the serve-time crash check
        // compares (SecondaryIndex.ensureCurrent).
        if (kind == "mor")
          SecondaryIndex.createMorCovering(spark, path, idxPath, cols)
        else if (kind == "timeline") {
          // the versioned layout declares no layout-level key — the
          // covering index takes the CATALOG's record key (the one the
          // table's keyed DML routes already maintain unique)
          val keys = Catalog.upsertConfigFull(spark, target)._1
          SecondaryIndex.createTimelineCovering(spark, path, idxPath,
            cols, keys)
        } else if (kind == "partitioned")
          SecondaryIndex.createPartitioned(spark, path, idxPath, cols)
        else if (kind == "bloom")
          SecondaryIndex.createBloom(spark, path, idxPath, cols)
        else SecondaryIndex.create(spark, path, idxPath, cols)
        setProps(spark, target, "graft.table.secondaryIndex" ->
          (existingSec :+ (cols, idxPath)).map { case (cs, ip) =>
            s"${cs.mkString(",")}:$ip" }.mkString(";"))
        idxPath
      case "record" =>
        require(kind == "bloom" || kind == "partitioned",
          s"USING RECORD needs a bloom- or partitioned-layout table; " +
            s"$target is '$kind' (the RLI maps record key -> data file " +
            "over bloom commits, or key -> partition on the " +
            "partitioned layout; a bucket table needs none — its key " +
            "HASH already routes a point read to one bucket — and a " +
            "MOR or timeline table's point read has no sub-snapshot " +
            "routing target for a key->file mapping, so both are " +
            "served by a covering SECONDARY index instead)")
        if (kind == "partitioned") {
          // GLOBAL record index (Hudi 0.14 RLI): key → partition, so a
          // key lookup without the partition value reads ONE slice
          val keys = PartitionedTable.props(path).keys
          require(cols.map(_.toLowerCase).sorted ==
            keys.map(_.toLowerCase).sorted,
            s"USING RECORD indexes the record key (${keys.mkString(",")}); " +
              s"got (${cols.mkString(",")})")
          require(PartitionedTable.boundRecordIndex(path).isEmpty,
            s"$target already binds a record index")
          val rli = s"${path}_rli_${c.indexName}"
          SecondaryIndex.createPartitionedRecord(spark, path, rli)
          rli
        } else {
          val keys = BloomTable.props(path).keys
          require(cols.map(_.toLowerCase).sorted ==
            keys.map(_.toLowerCase).sorted,
            s"USING RECORD indexes the primary key (${keys.mkString(",")}); " +
              s"got (${cols.mkString(",")})")
          require(!RecordIndex.exists(path),
            s"$target already has a record index")
          RecordIndex.build(spark, path)
          path
        }
      case "column_stats" =>
        require(kind == "bucket" || kind == "bloom" ||
            kind == "partitioned" || kind == "mor",
          s"USING COLUMN_STATS needs a bucket/bloom/partitioned/mor-" +
            s"layout table; $target is '$kind'" +
            (if (kind == "timeline")
              " (a timeline commit rewrites the WHOLE snapshot, so " +
                "file-level zone maps would re-index every file on " +
                "every commit for skip value bounded by one version's " +
                "file count — cluster the snapshot instead, or bind a " +
                "covering SECONDARY index for point reads)"
            else ""))
        require(Catalog.statsIndexOf(spark, target).isEmpty,
          s"$target already binds a column-stats index")
        val statsPath = s"${path}_stats_${c.indexName}"
        val live = (kind match {
          case "bloom" => BloomTable.read(spark, path)
          case "partitioned" =>
            // index the manifest-live BASE files; pending deltas don't
            // matter at build time — the serve path re-syncs and
            // refuses to skip while a delta log is pending
            PartitionedTable.readOptimized(spark, path)
          case "mor" =>
            // the BASE generation's files (zone maps have nothing to
            // skip inside pending logs — the serve path refuses to
            // skip until compaction folds them; stats re-sync to the
            // new base there)
            MorTable.readOptimized(spark, path)
          case _ => BucketTable.read(spark, path)
        }).inputFiles.toSeq
        require(live.nonEmpty,
          s"no committed data to index at $target (upsert a batch first)")
        StatsIndex.buildFromFiles(spark, live, cols, statsPath)
        setProps(spark, target, "graft.table.statsIndex" -> statsPath)
        statsPath
      case other => throw new IllegalArgumentException(
        s"unsupported index type '$other' (supported: SECONDARY | " +
          "RECORD | COLUMN_STATS)")
    }
    setProps(spark, target, s"graft.index.${c.indexName}" -> s"$tpe:$artifact")
    report(spark, Seq((c.indexName, tpe, artifact)))
  }

  private def dropIndex(spark: SparkSession, d: DropIndex): DataFrame = {
    val target = tableOf(d.table)
    Catalog.indexesOf(spark, target).get(d.indexName) match {
      case None =>
        if (d.ignoreIfNotExists) report(spark, Nil)
        else throw new IllegalArgumentException(
          s"no index '${d.indexName}' on $target " +
            s"(indexes: ${Catalog.indexesOf(spark, target).keys.toSeq.sorted
              .mkString(", ")})")
      case Some((tpe, artifact)) =>
        tpe match {
          case "secondary" =>
            // only THIS index's entry leaves the binding list — other
            // secondary indexes on the table keep serving
            val remaining = Catalog.secondaryIndexesOf(spark, target)
              .filterNot(_._2 == artifact)
            if (remaining.isEmpty)
              unsetProps(spark, target, "graft.table.secondaryIndex")
            else setProps(spark, target, "graft.table.secondaryIndex" ->
              remaining.map { case (cs, ip) =>
                s"${cs.mkString(",")}:$ip" }.mkString(";"))
            // every layout carries the engine-level binding that drives
            // write-path maintenance — unbind this artifact with the drop
            Layout.find(spark, target).foreach { case (layout, path) =>
              layout.unbindSecondaryIndex(path, artifact) }
            // the reconcile-serialization scope and covered-head state
            // go with the index
            FsUtil.deleteRecursively(
              java.nio.file.Paths.get(s"${artifact}_maint"))
            java.nio.file.Files.deleteIfExists(
              java.nio.file.Paths.get(s"${artifact}_phead"))
            FsUtil.deleteRecursively(java.nio.file.Paths.get(artifact))
          case "record" =>
            Catalog.layoutOf(spark, target) match {
              case Some(("partitioned", path)) =>
                PartitionedTable.unbindRecordIndex(path)
                FsUtil.deleteRecursively(
                  java.nio.file.Paths.get(s"${artifact}_maint"))
                java.nio.file.Files.deleteIfExists(
                  java.nio.file.Paths.get(s"${artifact}_phead"))
                FsUtil.deleteRecursively(java.nio.file.Paths.get(artifact))
              case _ => RecordIndex.drop(artifact)
            }
          case "column_stats" =>
            unsetProps(spark, target, "graft.table.statsIndex")
            FsUtil.deleteRecursively(java.nio.file.Paths.get(artifact))
          case other => throw new IllegalStateException(
            s"unknown index type '$other' recorded for '${d.indexName}'")
        }
        unsetProps(spark, target, s"graft.index.${d.indexName}")
        report(spark, Seq((d.indexName, tpe, artifact)))
    }
  }

  private def setProps(spark: SparkSession, table: String,
      kvs: (String, String)*): Unit = {
    val props = kvs.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ")
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ($props)")
    ()
  }

  private def unsetProps(spark: SparkSession, table: String,
      keys: String*): Unit = {
    val props = keys.map(k => s"'$k'").mkString(", ")
    spark.sql(s"ALTER TABLE $table UNSET TBLPROPERTIES ($props)")
    ()
  }
}
