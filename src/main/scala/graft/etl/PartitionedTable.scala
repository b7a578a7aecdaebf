package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Copy-on-write with a hive-style VALUE partition path — Hudi's
  * canonical deployment shape (reference: the pipeline writes through
  * `hoodie.datasource.write.partitionpath.field` machinery; it opts out
  * via `NonpartitionedKeyGenerator`, pipeline_architecture.py:252, but
  * `hoodie.datasource.write.drop.partition.columns=false`, py:55, is
  * configured precisely because partitioned tables are the norm).
  *
  * [[BucketTable]] routes by HASH of the record key — good for point
  * lookups, blind to value predicates. Here records are routed by the
  * VALUE of declared partition columns (typically an event date), so:
  *
  *   - an upsert rewrites only the partitions the batch touches — a
  *     daily ingest into a date-partitioned 100 TB table rewrites one
  *     day, not the table;
  *   - a read with a predicate on the partition columns scans only the
  *     matching partition directories (partition pruning);
  *   - dropping a partition is a manifest edit — no data job at all
  *     (Hudi's `delete_partition`).
  *
  * Record identity is `(partition values, keys)` — the same key in two
  * partitions is two records, exactly Hudi's non-global (partition-
  * scoped) index semantics. A key whose partition value changes between
  * batches inserts into the new partition and leaves the old row in
  * place; deployments needing global identity route through
  * [[BucketTable]] (hash on key alone) instead.
  *
  * Layout under `tablePath/` (same commit protocol as [[BucketTable]]):
  *   - `gen=G/__p_<col>=<v>/…`  partition data as written by commit G
  *   - `_manifest`              one `<partitionDir> G` line per live
  *                              partition; atomically replaced
  *   - `_props`                 keys / precombine / tieBreak /
  *                              partition columns and their types
  *
  * Partition columns stay IN the data files (the reference's
  * `drop.partition.columns=false`): the directory key is a shadow
  * string column `__p_<col>`, so the typed original survives the
  * round-trip untouched and readers never depend on partition-value
  * type inference.
  */
object PartitionedTable extends TableLayout {

  val kind = "partitioned"

  private val Shadow = "__p_"

  /** Innermost dir level when file-grouping is on: `__g=<hash bucket>`. */
  private val Group = "__g"

  private def manifestPath(tablePath: String): Path = Paths.get(tablePath, "_manifest")
  private def propsPath(tablePath: String): Path = Paths.get(tablePath, "_props")
  private def schemaPath(tablePath: String): Path = Paths.get(tablePath, "_schema")

  /** Persist the committed snapshot schema (sans routing shadows): the
    * shape a read must still serve once a rewrite or partition drop
    * has emptied the manifest — an emptied table is a legitimate
    * state, not a missing one (same contract as `BucketTable`'s
    * `_schema`; Hudi records schema in commit metadata). Refreshed on
    * every schema-bearing CoW commit; delta appends skip it (they
    * never shrink the manifest, and the read-side by-name union
    * surfaces their columns regardless).
    */
  private def writeSchema(tablePath: String, df: DataFrame): Unit = {
    val ddl = org.apache.spark.sql.types.StructType(df.schema.filterNot(f =>
      f.name.startsWith(Shadow) || f.name == Group)).toDDL
    val tmp = Paths.get(tablePath, s"_schema.tmp${System.nanoTime()}")
    Files.writeString(tmp, ddl,
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
      s"partitioned table at $tablePath has no committed data and no " +
        "recorded schema (last written before schema recording); upsert " +
        "a non-empty batch first")
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(Files.readString(sp)))
  }

  // ---- versioned commit log (VERSION AS OF) --------------------------
  //
  // One `_commits` line per LOGICAL commit (CommitLogFile-backed, so
  // archival and crash-dedup work exactly as on bucket/bloom):
  //   `<no> <kind> <payload>`
  // payload = comma list of entries, `.` when none:
  //   `M:<enc(dir)>:<gen>`  manifest repoint   `M:<enc(dir)>:-` retire
  //   `D:<enc(dir)>:<seq>`  delta entry added  `R:<enc(dir)>:<seq>` retired
  // Dir names are URL-encoded: hive path escaping leaves spaces and
  // commas intact in partition values, and those would break the line
  // grammar (the `_manifest` file survives them only because its
  // parser splits on the LAST space). Encoding also eliminates ':'.
  //
  // This numbering is INDEPENDENT of the CDC change-seq domain: delta
  // seqs number the change feed (`table_changes`), commit numbers
  // number SNAPSHOTS (`VERSION AS OF`) — one covers only log appends,
  // the other every manifest swing too, so they cannot share a counter.

  private def enc(dir: String): String =
    java.net.URLEncoder.encode(dir, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** The newest commit number (0 before any logged commit). Reads the
    * ACTIVE log only — archival always keeps the newest lines active,
    * so allocation never pays the archive read (the per-commit hot
    * path; history folds are the cold path that does).
    */
  def latestCommit(tablePath: String): Long = {
    val p = Paths.get(tablePath, "_commits")
    if (!Files.exists(p)) 0L
    else Files.readAllLines(p).asScala
      .flatMap(_.split(' ').headOption)
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong).maxOption.getOrElse(0L)
  }

  /** Kinds whose commit restates the WHOLE live manifest (every live
    * slice repointed / the state wholesale replaced). Their log lines
    * carry the FULL post-commit state and [[stateAsOf]]'s fold RESETS
    * on them — which is what lets a maintenance compaction repair the
    * history after a crash lost a line (a pure diff fold can never
    * heal a lost per-dir diff; the bloom layout's overwrite/cluster
    * reset is the same move).
    */
  private val ResetKinds = Set("compact", "cluster", "restore")

  /** Append one commit line recording the manifest and delta-log diffs
    * of a logical commit ([[ResetKinds]] log the full post state
    * instead). Caller holds the table lock (the number allocation is a
    * read-modify-write on the shared log) and appends AFTER the
    * metadata swings: this log serves ONLY versioned reads (the change
    * feed runs on the independent delta-seq domain), and after-swing
    * never folds a phantom diff no swing applied. A line LOST to a
    * crash between swing and append leaves a log that no longer folds
    * to the live state — per-dir diffs cannot absorb it — so
    * [[stateAsOf]] guards with a fold-to-live check and refuses
    * historical reads loudly until a [[compact]]/[[cluster]] reset
    * line re-anchors the fold.
    */
  private def logCommit(tablePath: String, kind: String,
      mBefore: Map[String, Long], mAfter: Map[String, Long],
      dBefore: Seq[(String, Long)], dAfter: Seq[(String, Long)]): Long = {
    val no = latestCommit(tablePath) + 1
    // a reset line's payload IS the full after state (fold starts from
    // empty at it), so diff against nothing and list every live entry
    val (mb, db) =
      if (ResetKinds(kind)) (Map.empty[String, Long], Seq.empty[(String, Long)])
      else (mBefore, dBefore)
    val mEntries = (mb.keySet ++ mAfter.keySet).toSeq.sorted.flatMap { d =>
      (mb.get(d), mAfter.get(d)) match {
        case (b, Some(g)) if !b.contains(g) => Some(s"M:${enc(d)}:$g")
        case (Some(_), None) => Some(s"M:${enc(d)}:-")
        case _ => None
      }
    }
    val bSet = db.toSet
    val aSet = dAfter.toSet
    val dEntries = (aSet -- bSet).toSeq.sorted
      .map { case (d, s) => s"D:${enc(d)}:$s" } ++
      (bSet -- aSet).toSeq.sorted.map { case (d, s) => s"R:${enc(d)}:$s" }
    val payload = (mEntries ++ dEntries).mkString(",")
    Files.writeString(Paths.get(tablePath, "_commits"),
      s"$no $kind ${if (payload.isEmpty) "." else payload} " +
        s"ts=${System.currentTimeMillis()}\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    no
  }

  def resolveAsOf(tablePath: String, tsMs: Long): Long =
    CommitLogFile.resolveAsOf(tablePath, tsMs)

  def showCommits(spark: SparkSession, tablePath: String): DataFrame =
    commitFrame(spark, CommitLogFile.entries(tablePath).map {
      case (no, kind, ts) => (no, kind, ts.getOrElse(-1L)) })

  /** The (manifest, delta log) AS OF `commit`: fold every logged diff
    * through. Loud on upgraded tables (log doesn't cover birth) and
    * out-of-range commits.
    */
  def stateAsOf(tablePath: String,
      commit: Long): (Map[String, Long], Seq[(String, Long)]) = {
    // a valid line ends with its ts= token: a torn append cut at a
    // comma boundary would otherwise parse as a smaller-but-wrong
    // diff. Torn lines are EXCLUDED — and, like a line lost entirely
    // to a crash between swing and append, caught by the fold-to-live
    // guard below (per-dir diffs cannot absorb a lost repointing; the
    // guard refuses loudly until a compact/cluster RESET line
    // re-anchors the fold)
    def parsed(): Seq[(Long, String, String)] =
      CommitLogFile.fullLines(tablePath).flatMap { l =>
        l.split(' ') match {
          case Array(no, kind, payload, ts)
              if no.nonEmpty && no.forall(_.isDigit) && ts.startsWith("ts=") =>
            Some((no.toLong, kind, payload))
          case _ => None
        }
      }
    def fold(entries: Seq[(Long, String, String)])
        : (Map[String, Long], Set[(String, Long)]) =
      entries.sortBy(_._1)
        .foldLeft((Map.empty[String, Long], Set.empty[(String, Long)])) {
          case ((m0, d0), (_, kind, payload)) =>
            // a reset line carries the FULL state — fold from empty
            val (m, d) =
              if (ResetKinds(kind))
                (Map.empty[String, Long], Set.empty[(String, Long)])
              else (m0, d0)
            payload.split(',').filter(e => e.nonEmpty && e != ".")
              .foldLeft((m, d)) { case ((m2, d2), e) =>
                e.split(':') match {
                  case Array("M", ed, "-") => (m2 - dec(ed), d2)
                  case Array("M", ed, g) => (m2 + (dec(ed) -> g.toLong), d2)
                  case Array("D", ed, s) => (m2, d2 + ((dec(ed), s.toLong)))
                  case Array("R", ed, s) => (m2, d2 - ((dec(ed), s.toLong)))
                  case _ => throw new IllegalStateException(
                    s"unparseable commit-log entry '$e' at $tablePath")
                }
              }
        }
    var lines = parsed()
    val head = lines.map(_._1).maxOption.getOrElse(0L)
    require(commit >= 1 && commit <= head,
      s"VERSION AS OF $commit at $tablePath: commits run 1..$head")
    require(lines.map(_._1).minOption.contains(1L),
      s"the commit log at $tablePath does not cover the table's birth " +
        "(created before commit logging) — historical reads need a " +
        "from-birth log")
    // crash-window guard (the bucket/bloom twins' discipline): the full
    // fold must reproduce the live (manifest, delta log) pair, else a
    // line was lost/torn and every later version would silently serve a
    // wrong snapshot. The log legitimately lags the metadata only while
    // a writer is between its swing and its append — and writers hold
    // the table lock across both — so a mismatch re-reads ONCE under
    // the lock (draining any in-flight writer) before declaring the
    // history unreliable.
    def liveState() = (manifest(tablePath), deltas(tablePath).toSet)
    if (fold(lines) != liveState()) {
      val consistent =
        try FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
          lines = parsed()
          fold(lines) == liveState()
        } catch {
          case _: java.util.ConcurrentModificationException => false
        }
      require(consistent,
        s"the commit log at $tablePath does not fold to the live " +
          "(manifest, delta log) state (a crash-torn or lost line) — " +
          "historical reads are unreliable until a compaction resets " +
          "history")
    }
    fold(lines.filter(_._1 <= commit)) match {
      case (m, d) => (m, d.toSeq.sortBy(e => (e._2, e._1)))
    }
  }

  /** Read the table AS OF commit `commit` — `SELECT ... VERSION AS OF`
    * on the partitioned layout: the historical manifest and delta log
    * folded back out of the commit log, served from the immutable
    * generation and delta dirs they reference. Works for any commit
    * whose dirs [[clean]] hasn't reclaimed (savepoints pin); a
    * reclaimed version fails loudly, never serves a partial snapshot.
    */
  def readVersion(spark: SparkSession, tablePath: String,
      commit: Long): DataFrame = {
    val p = props(tablePath)
    val (m, d) = stateAsOf(tablePath, commit)
    val missingM = m.filter { case (dir, g) =>
      !Files.exists(Paths.get(tablePath, s"gen=$g", dir)) }
    val missingD = d.filterNot { case (dir, s) =>
      Files.exists(Paths.get(tablePath, s"dgen=$s", dir)) }
    require(missingM.isEmpty && missingD.isEmpty,
      s"VERSION AS OF $commit at $tablePath: dir(s) " +
        s"${(missingM.toSeq.map { case (dir, g) => s"gen=$g/$dir" } ++
          missingD.map { case (dir, s) => s"dgen=$s/$dir" }).sorted
          .mkString(",")} were reclaimed by clean — create a savepoint " +
        "before cleaning to keep historical versions readable")
    if (m.isEmpty && d.isEmpty) return read(spark, tablePath).limit(0)
    val base =
      if (m.isEmpty) read(spark, tablePath).limit(0)
      else readDirs(spark, tablePath, m.keySet, m, p)
    if (d.isEmpty) base
    else mergeDeltas(base, deltaFrame(spark, tablePath, d, p), p)
  }

  final case class Props(keys: Seq[String], precombine: String,
      tieBreak: Seq[String], partitionCols: Seq[String],
      partitionTypes: Seq[String], numGroups: Int) {
    /** Identity columns of a record: partition scope + record key. */
    def identity: Seq[String] = partitionCols ++ keys
    /** Whether records hash into file groups WITHIN each partition. */
    def grouped: Boolean = numGroups > 0
    /** Directory-level shadow columns, innermost last. */
    def dirCols: Seq[String] =
      partitionCols.map(Shadow + _) ++ (if (grouped) Seq(Group) else Nil)
    /** Manifest-dir tree depth under a generation dir. */
    def dirDepth: Int = partitionCols.length + (if (grouped) 1 else 0)
  }

  def exists(tablePath: String): Boolean = Files.exists(manifestPath(tablePath))

  def props(tablePath: String): Props = {
    val m = Files.readAllLines(propsPath(tablePath)).asScala
      .map(_.split('=')).collect { case Array(k, v) => k -> v }.toMap
    Props(
      m("keys").split(',').toSeq.filter(_.nonEmpty),
      m("precombine"),
      m.getOrElse("tieBreak", "").split(',').toSeq.filter(_.nonEmpty),
      m("partitionCols").split(',').toSeq.filter(_.nonEmpty),
      m("partitionTypes").split(';').toSeq.filter(_.nonEmpty),
      m.getOrElse("numGroups", "0").toInt)
  }

  /** partition dir (relative, escaped, e.g. `__p_day=2024-01-15`) →
    * generation that last rewrote it.
    */
  def manifest(tablePath: String): Map[String, Long] = {
    val p = manifestPath(tablePath)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val i = l.lastIndexOf(' ')
      l.substring(0, i) -> l.substring(i + 1).toLong
    }.toMap
  }

  private def writeManifest(tablePath: String, m: Map[String, Long]): Unit = {
    val tmp = Paths.get(tablePath, s"_manifest.tmp${System.nanoTime()}")
    Files.writeString(tmp,
      m.toSeq.sorted.map { case (d, g) => s"$d $g" }.mkString("\n"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, manifestPath(tablePath), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Add the shadow string columns the partitioned write keys dirs on.
    * The cast-to-string is OURS (not Spark's partition-value
    * formatting), so [[partitionDirOf]] can reproduce the exact dir
    * name driver-side.
    */
  private def withShadow(df: DataFrame, p: Props): DataFrame = {
    val shadowed = p.partitionCols.foldLeft(df)((d, c) =>
      d.withColumn(Shadow + c, col(c).cast("string")))
    if (!p.grouped) shadowed
    else shadowed.withColumn(Group,
      pmod(xxhash64(p.keys.map(col): _*), lit(p.numGroups)).cast("int"))
  }

  /** The relative partition dir a row with these (string-cast)
    * partition values lands in — the same escaping Spark's partitioned
    * write applies to the shadow column values.
    */
  private def dirOfValues(p: Props, values: Seq[String]): String =
    p.partitionCols.zip(values).map { case (c, v) =>
      s"$Shadow$c=${ExternalCatalogUtils.escapePathName(v)}"
    }.mkString("/")

  /** Parse a manifest dir back into its PARTITION string values (the
    * trailing file-group segment, if any, is routing — not a value).
    */
  private def valuesOfDir(p: Props, dir: String): Seq[String] =
    dir.split('/').toSeq.take(p.partitionCols.length).map { seg =>
      ExternalCatalogUtils.unescapePathName(seg.drop(seg.indexOf('=') + 1))
    }

  /** The partition prefix of a manifest dir (drops the group segment). */
  private def partitionPrefix(p: Props, dir: String): String =
    dir.split('/').take(p.partitionCols.length).mkString("/")

  private def deleteRecursively(path: Path): Unit = FsUtil.deleteRecursively(path)

  private def rollbackOrphan(tablePath: String, gen: Long): Unit = {
    val dir = Paths.get(tablePath, s"gen=$gen")
    if (Files.exists(dir) && !manifest(tablePath).values.exists(_ == gen) &&
        !pinnedGens(tablePath)(gen))
      deleteRecursively(dir)
  }

  /** Write `df` (shadow columns present) under `gen=G/` in ONE
    * partitioned job and return the partition dirs actually written
    * (read back from the directory tree, never inferred).
    */
  private def writeGen(df: DataFrame, tablePath: String, gen: Long,
      p: Props): Seq[String] = {
    // cluster by (partition, group) before the partitioned write —
    // without it every input task opens a file in every leaf dir it
    // sees (tasks × leaves small files)
    writeGenPrepared(df.repartition(p.dirCols.map(col): _*),
      tablePath, gen, p)
  }

  /** [[writeGen]] minus the pre-write repartition — for callers
    * ([[cluster]]) that have already arranged the rows into the task
    * layout the files should inherit.
    */
  private def writeGenPrepared(df: DataFrame, tablePath: String, gen: Long,
      p: Props): Seq[String] = {
    rollbackOrphan(tablePath, gen)
    val dir = Paths.get(tablePath, s"gen=$gen")
    UnitSchema.write(df, dir.toString, partitionBy = p.dirCols)
    leafDirs(dir, p)
  }

  /** Walk a generation dir to the leaf depth, returning relative slice
    * dir paths — always read back from the tree, never inferred.
    */
  private def leafDirs(dir: Path, p: Props): Seq[String] = {
    def leaves(d: Path, depth: Int): Seq[Path] =
      if (depth == 0) Seq(d)
      else {
        val s = Files.list(d)
        val subs =
          try s.iterator().asScala.toSeq finally s.close()
        subs.filter { x =>
          val n = x.getFileName.toString
          n.startsWith(Shadow) || n.startsWith(Group + "=")
        }.flatMap(leaves(_, depth - 1))
      }
    leaves(dir, p.dirDepth)
      .map(l => dir.relativize(l).toString.replace('\\', '/')).sorted
  }

  /** Distinct partition dirs the batch would write, computed
    * driver-side from the batch's distinct partition values. Loudly
    * rejects null partition values — a silent
    * `__HIVE_DEFAULT_PARTITION__` would desync routing and pruning.
    */
  private def touchedDirs(tagged: DataFrame, p: Props): Seq[String] =
    dirsOfRows(tagged.select(p.dirCols.map(col): _*).distinct().collect(), p)

  private def dirsOfRows(rows: Seq[Row], p: Props): Seq[String] = {
    val nParts = p.partitionCols.length
    rows.foreach { r =>
      require(!(0 until nParts).exists(r.isNullAt),
        s"null partition value in (${p.partitionCols.mkString(",")}) — " +
          "partition columns must be non-null")
    }
    rows.map { r =>
      val part = dirOfValues(p, (0 until nParts).map(r.getString))
      if (p.grouped) s"$part/$Group=${r.getInt(nParts)}" else part
    }.sorted
  }

  /** localCheckpoint a shadow-tagged batch and compute its touched
    * partition dirs INSIDE the checkpoint job (an observed collect_set
    * of the dir tuple) — the routing `distinct().collect()` action it
    * used to cost is gone (guide §2.4). Same driver footprint: the
    * distinct dir tuples, bounded by the live-partition count.
    */
  private def checkpointTouched(tagged0: DataFrame,
      p: Props): (DataFrame, Seq[String]) = {
    val (ck, vs) = Fuse.checkpointObserved(tagged0,
      collect_set(struct(p.dirCols.map(col): _*)))
    val rows = vs.head.asInstanceOf[scala.collection.Seq[Any]]
      .map(_.asInstanceOf[Row]).toSeq
    (ck, dirsOfRows(rows, p))
  }

  /** Initialize the table: every record routed to its value partition,
    * all partitions at generation 0.
    */
  /** `numGroups > 0` additionally hashes records into that many FILE
    * GROUPS inside each partition (Hudi's partition-path + file-group
    * layout): an upsert then rewrites only the touched
    * (partition, group) slices — for a trickle batch into today's
    * partition, 1/numGroups of the day instead of the whole day — and
    * OCC conflicts sharpen to same-group writers. 0 (default) keeps
    * one slice per partition.
    */
  def create(df: DataFrame, tablePath: String, keys: Seq[String],
      precombine: String, tieBreak: Seq[String] = Nil,
      partitionCols: Seq[String], numGroups: Int = 0): Unit = {
    require(!Files.exists(manifestPath(tablePath)),
      s"table already exists at $tablePath")
    require(partitionCols.nonEmpty, "at least one partition column")
    require(numGroups >= 0, "numGroups must be >= 0")
    Files.createDirectories(Paths.get(tablePath))
    val types = partitionCols.map(c => df.schema(c).dataType.catalogString)
    Files.writeString(propsPath(tablePath),
      s"keys=${keys.mkString(",")}\nprecombine=$precombine\n" +
        s"tieBreak=${tieBreak.mkString(",")}\n" +
        s"partitionCols=${partitionCols.mkString(",")}\n" +
        s"partitionTypes=${types.mkString(";")}\n" +
        s"numGroups=$numGroups\n",
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    val p = Props(keys, precombine, tieBreak, partitionCols, types, numGroups)
    val deduped = HudiLike.precombineLatest(df, p.identity, precombine, tieBreak)
    val written = writeGen(withShadow(deduped, p), tablePath, 0L, p)
    writeSchema(tablePath, deduped)
    writeManifest(tablePath, written.map(_ -> 0L).toMap)
    // the create is COMMIT 1, like every layout with a commit log
    logCommit(tablePath, "create",
      Map.empty, written.map(_ -> 0L).toMap, Seq.empty, Seq.empty)
  }

  /** Read the given partition dirs at an explicit manifest snapshot —
    * one parquet relation per live generation, dir-pruned to the
    * partitions still current in it (schema-on-read union, same
    * contract as [[BucketTable]]).
    */
  private def readDirs(spark: SparkSession, tablePath: String,
      dirs: Set[String], m0: Map[String, Long], p: Props): DataFrame = {
    val m = m0.view.filterKeys(dirs).toMap
    m.groupBy(_._2).map { case (gen, entries) =>
      val unit = s"$tablePath/gen=$gen"
      UnitSchema.read(spark, unit, entries.keys.toSeq.sorted.map(d => s"$unit/$d"),
        partitioned = true)
    }.reduceOption(SchemaShim.unionByName)
      .map(_.drop(p.partitionCols.map(Shadow + _) :+ Group: _*))
      .getOrElse(read(spark, tablePath).limit(0))
  }

  /** Read the live table: every partition at its manifest generation,
    * MERGED with any delta commits not yet compacted (Hudi's snapshot
    * query — [[readOptimized]] skips the merge, [[compactDeltas]]
    * eliminates it).
    */
  def read(spark: SparkSession, tablePath: String): DataFrame = {
    val base = readOptimized(spark, tablePath)
    val d = deltas(tablePath)
    if (d.isEmpty) base
    else mergeDeltas(base,
      deltaFrame(spark, tablePath, d, props(tablePath)), props(tablePath))
  }

  /** Manifest partition dirs whose PARTITION VALUES satisfy `pred`
    * (a predicate over the original partition columns). Evaluated on a
    * local frame of the manifest's distinct partition tuples — O(live
    * partitions) driver work, no data scan, and the predicate semantics
    * are exactly Spark's (the values are cast back to the columns'
    * stored types first).
    */
  def prunePartitions(spark: SparkSession, tablePath: String,
      pred: Column): Seq[String] = {
    val p = props(tablePath)
    val dirs = (manifest(tablePath).keySet ++ deltas(tablePath).map(_._1)).toSeq.sorted
    if (dirs.isEmpty) return Seq.empty
    import spark.implicits._
    val parsed = dirs.map(d => (d, valuesOfDir(p, d)))
    val df0 = parsed.map { case (d, vs) => (d, vs.mkString("\u0000")) }
      .toDF("__dir", "__vals")
    val withCols = p.partitionCols.zip(p.partitionTypes).zipWithIndex
      .foldLeft(df0) { case (df, ((c, t), i)) =>
        df.withColumn(c, split(col("__vals"), "\u0000").getItem(i).cast(t))
      }
    withCols.filter(pred).select(col("__dir")).collect().map(_.getString(0)).toSeq
  }

  /** Partition-pruned read: scan only the partitions whose values
    * satisfy `pred`, then apply `pred` as a residual row filter (safe
    * for predicates that mix partition and data columns — pruning uses
    * only what it can prove from partition values... so `pred` here
    * must reference partition columns only; mixed predicates should
    * prune with the partition clause and filter the rest on the
    * result). At any table size the scan is the matching partitions.
    */
  def prunedRead(spark: SparkSession, tablePath: String, pred: Column): DataFrame = {
    val keep = prunePartitions(spark, tablePath, pred).toSet
    val p = props(tablePath)
    if (keep.isEmpty) return read(spark, tablePath).limit(0)
    val m = manifest(tablePath)
    val baseKeep = m.keySet.intersect(keep)
    val base =
      if (baseKeep.isEmpty) readOptimized(spark, tablePath).limit(0)
      else readDirs(spark, tablePath, baseKeep, m, p)
    val dKeep = deltas(tablePath).filter(e => keep(e._1))
    val merged =
      if (dKeep.isEmpty) base
      else mergeDeltas(base, deltaFrame(spark, tablePath, dKeep, p), p)
    merged.filter(pred)
  }

  /** Partial-rewrite upsert: route the batch to its value partitions,
    * merge against ONLY those partitions' current data (identity =
    * partition + key), write them as one new generation, swing the
    * manifest. Untouched partitions keep their files.
    * Single-writer path, mirroring [[BucketTable.upsertInto]].
    */
  def upsertInto(spark: SparkSession, tablePath: String,
      incoming: DataFrame): Seq[String] = {
    val p = props(tablePath)
    val (tagged, touched) = checkpointTouched(withShadow(
      HudiLike.precombineLatest(incoming, p.identity, p.precombine, p.tieBreak),
      p), p)
    if (touched.isEmpty) return Seq.empty
    val committed = manifest(tablePath)
    val bound = boundIndexes(tablePath, p)
    // pre/post index probes reuse the batch's identity frame and
    // touched-dir routing this commit already computed — no second
    // dedup/route job per probe (guide §2.4)
    // plain projection: `tagged` is precombined (one row per identity)
    // and checkpointed — no dedup shuffle, no materialization job
    val wanted = bound.headOption.map(_ =>
      tagged.select(p.identity.map(col): _*))
    val pre = wanted.map(w => MaintProf.timed("part.preBatchState")(
      beforeState(spark, tablePath, tagged, w, touched.toSet, p)))
    val gen = nextGen(tablePath)
    val existing =
      if (committed.isEmpty) tagged.drop(p.dirCols: _*).limit(0)
      else readDirs(spark, tablePath, touched.toSet, committed, p)
    val merged = HudiLike.upsert(existing,
      tagged.drop(p.dirCols: _*),
      p.identity, p.precombine, p.tieBreak)
    val written = writeGen(withShadow(merged, p), tablePath, gen, p)
    // a CoW upsert changes content with NO change seq — the cdc image
    // feed cannot represent it, so every cursor dies (ratchet BEFORE
    // the swing: a crash leaves a spurious loud, never a silent gap).
    // The metadata swing runs under the table lock: commit-number
    // allocation is a read-modify-write on the shared `_commits` log,
    // and this single-writer path must serialize it against OCC
    // writers (BucketTable's identical discipline)
    val c = FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      CdcLog.ratchet(tablePath, changeHead(tablePath) + 1L)
      writeSchema(tablePath, merged)
      val m0 = manifest(tablePath)
      val d0 = deltas(tablePath)
      writeManifest(tablePath, m0 ++ written.map(_ -> gen))
      logCommit(tablePath, "write", m0, m0 ++ written.map(_ -> gen), d0, d0)
    }
    // the post side re-probes what readers now see for the batch's
    // identities — by construction the served merge, never a replay
    // of the merge algebra that could drift from it
    maintainBound(spark, tablePath, bound, pre,
      lookupManyRouted(spark, tablePath, wanted.get, touched.toSet, p), p, c)
    written
  }

  /** One partition-level optimistic-concurrency attempt: merge
    * `tagged` against the `m0` view of its touched partitions and
    * write the new generation OUTSIDE any lock; inside the short
    * [[FsLock]] critical section, commit only if no other writer has
    * re-pointed a touched partition since `m0`. Writers whose batches
    * land in DISJOINT partitions both commit even when fully
    * overlapping in time — the date-partitioned lake's everyday
    * concurrency: a backfill restating old days while live ingest
    * appends today. A writer that lost a touched partition gets None,
    * its generation dir removed, the table untouched. Generation ids
    * are nanotime-unique so in-flight writers never stage into the
    * same dir (mirrors [[BucketTable.attemptOcc]]).
    */
  private[etl] def attemptOcc(spark: SparkSession, tablePath: String,
      tagged: DataFrame, touched: Set[String], p: Props,
      m0: Map[String, Long]): Option[Seq[String]] = {
    val existing =
      if (m0.isEmpty) tagged.drop(p.dirCols: _*).limit(0)
      else readDirs(spark, tablePath, touched, m0, p)
    // pre-probe OUTSIDE the lock: a concurrent writer that re-points
    // one of OUR touched slices fails the commit below (probe
    // discarded, retry re-probes) — disjoint-slice writers can't
    // change these identities' rows, so the probe stays valid
    val bound = boundIndexes(tablePath, p)
    // plain projection: `tagged` is precombined (one row per identity)
    // and checkpointed — no dedup shuffle, no materialization job
    val wanted = bound.headOption.map(_ =>
      tagged.select(p.identity.map(col): _*))
    val pre = wanted.map(w =>
      beforeState(spark, tablePath, tagged, w, touched, p))
    val merged = HudiLike.upsert(existing,
      tagged.drop(p.dirCols: _*),
      p.identity, p.precombine, p.tieBreak)
    val gen = System.nanoTime()
    val written = writeGen(withShadow(merged, p), tablePath, gen, p)
    val committed = FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val m1 = manifest(tablePath)
      val conflict = touched.exists(d => m1.get(d) != m0.get(d))
      if (conflict) None
      else {
        // seq-less content change: the cdc image feed dies (same as
        // the plain CoW upsert route)
        CdcLog.ratchet(tablePath, changeHead(tablePath) + 1L)
        writeSchema(tablePath, merged)
        val d1 = deltas(tablePath)
        writeManifest(tablePath, m1 ++ written.map(_ -> gen))
        Some(logCommit(tablePath, "occ",
          m1, m1 ++ written.map(_ -> gen), d1, d1))
      }
    }
    committed match {
      case Some(c) =>
        maintainBound(spark, tablePath, bound, pre,
          lookupManyRouted(spark, tablePath, wanted.get, touched, p), p, c)
        Some(written)
      case None =>
        deleteRecursively(Paths.get(tablePath, s"gen=$gen"))
        None
    }
  }

  /** Multi-writer upsert under optimistic concurrency control: only
    * writers whose batches touch a COMMON partition contend, and the
    * loser re-merges just its own batch against the fresh manifest and
    * retries. The concurrent front door; [[upsertInto]] stays the
    * single-writer fast path.
    */
  def upsertIntoOcc(spark: SparkSession, tablePath: String,
      incoming: DataFrame, maxRetries: Int = 5): Seq[String] = {
    val p = props(tablePath)
    val (tagged, touchedD) = checkpointTouched(withShadow(
      HudiLike.precombineLatest(incoming, p.identity, p.precombine, p.tieBreak),
      p), p)
    val touched = touchedD.toSet
    if (touched.isEmpty) return Seq.empty
    var attempt = 0
    while (attempt <= maxRetries) {
      attemptOcc(spark, tablePath, tagged, touched, p, manifest(tablePath)) match {
        case Some(written) => return written
        case None => attempt += 1
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"gave up after $maxRetries OCC retries at $tablePath — " +
        "another writer keeps re-pointing the touched partitions")
  }

  /** Point lookup by (partition values, record key): route through
    * the SAME shadow/group expressions records are written by to the
    * one leaf dir the key lives in, and read only it — 1/(partitions ×
    * groups) of the table at any size (each literal is cast to the
    * column's stored type first; xxhash64 is type-sensitive). On an
    * ungrouped table the scan is the one partition.
    */
  def lookup(spark: SparkSession, tablePath: String,
      partitionValues: Seq[Any], keyValues: Seq[Any]): DataFrame = {
    val p = props(tablePath)
    require(partitionValues.length == p.partitionCols.length,
      s"expected ${p.partitionCols.length} partition values (${p.partitionCols.mkString(",")})")
    require(keyValues.length == p.keys.length,
      s"expected ${p.keys.length} key values (${p.keys.mkString(",")})")
    val schema = read(spark, tablePath).schema
    val probe = Layout.literalRow(spark,
      p.partitionCols.zip(p.partitionTypes.map(
        org.apache.spark.sql.types.DataType.fromDDL)) ++
        p.keys.map(k => k -> schema(k).dataType),
      partitionValues ++ keyValues)
    val tagged = withShadow(probe, p)
    val r = tagged.select(p.dirCols.map(col): _*).head()
    val nParts = p.partitionCols.length
    val part = dirOfValues(p, (0 until nParts).map(r.getString))
    val dir = if (p.grouped) s"$part/$Group=${r.getInt(nParts)}" else part
    val m = manifest(tablePath)
    // the slice's pending delta commits participate too — a lookup
    // must see delta upserts and honor delta tombstones, like any
    // snapshot read, while still scanning only this one slice's base
    // dir and delta files
    val dKeep = deltas(tablePath).filter(_._1 == dir)
    if (!m.contains(dir) && dKeep.isEmpty)
      return read(spark, tablePath).limit(0)
    val base =
      if (m.contains(dir)) readDirs(spark, tablePath, Set(dir), m, p)
      else readOptimized(spark, tablePath).limit(0)
    val slice =
      if (dKeep.isEmpty) base
      else mergeDeltas(base, deltaFrame(spark, tablePath, dKeep, p), p)
    (p.partitionCols ++ p.keys).zip(partitionValues ++ keyValues)
      .foldLeft(slice) { case (df, (c, v)) => df.filter(col(c) === lit(v)) }
  }

  /** Dynamic partition overwrite (Hudi `insert_overwrite`, Spark's
    * INSERT OVERWRITE dynamic mode): REPLACE the touched partitions'
    * content with the batch (precombine-deduped), leave every other
    * partition untouched. No merge read at all — the cheapest restate
    * of a partition there is.
    */
  def insertOverwrite(spark: SparkSession, tablePath: String,
      incoming: DataFrame): Seq[String] = {
    val p = props(tablePath)
    val (tagged, touched) = checkpointTouched(withShadow(
      HudiLike.precombineLatest(incoming, p.identity, p.precombine, p.tieBreak),
      p), p)
    if (touched.isEmpty) return Seq.empty
    val gen = nextGen(tablePath)
    val written = writeGen(tagged, tablePath, gen, p)
    // overwrite semantics are PARTITION-wholesale: under file grouping
    // a batch may miss some groups of a touched partition, and those
    // slices must go too — drop every manifest entry whose partition
    // prefix was overwritten, then add what was written
    val overwritten = written.map(partitionPrefix(p, _)).toSet
    // pre-image of the restated PARTITIONS (wholesale — every group,
    // plus their pending deltas), pinned before the swing: the index
    // reconcile tombstones every mapping the overwrite displaced
    val bound = boundIndexes(tablePath, p)
    val pre = bound.headOption.map { _ =>
      val m0 = manifest(tablePath)
      val dirs = m0.keySet.filter(d => overwritten(partitionPrefix(p, d)))
      val dPre = deltas(tablePath)
        .filter(e => overwritten(partitionPrefix(p, e._1)))
      val b =
        if (dirs.isEmpty) tagged.drop(p.dirCols: _*).limit(0)
        else readDirs(spark, tablePath, dirs, m0, p)
      (if (dPre.isEmpty) b
       else mergeDeltas(b, deltaFrame(spark, tablePath, dPre, p), p))
        .localCheckpoint()
    }
    val c = FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val m0 = manifest(tablePath)
      val kept = m0.filterNot { case (d, _) =>
        overwritten(partitionPrefix(p, d)) }
      val d = deltas(tablePath)
      val (gone, keptD) =
        d.partition(e => overwritten(partitionPrefix(p, e._1)))
      writeSchema(tablePath, tagged.drop(p.dirCols: _*))
      writeManifest(tablePath, kept ++ written.map(_ -> gen))
      // the restate is invisible to the change feed — every cursor dies
      // (even if the touched partitions had no pending deltas), and the
      // superseded delta commits retire with it
      retireDestructive(tablePath) // ratchet-then-remove
      if (gone.nonEmpty) writeDeltas(tablePath, keptD)
      logCommit(tablePath, "overwrite",
        m0, kept ++ written.map(_ -> gen), d, keptD)
    }
    maintainBound(spark, tablePath, bound, pre, tagged.drop(p.dirCols: _*), p, c)
    written
  }

  /** Drop the partitions whose values satisfy `pred`: a manifest edit —
    * no data job, readers never see the rows again, [[clean]] reclaims
    * the files later (Hudi's `delete_partition`). Returns dropped dirs.
    */
  def dropPartitions(spark: SparkSession, tablePath: String,
      pred: Column): Seq[String] = {
    val drop = prunePartitions(spark, tablePath, pred)
    if (drop.nonEmpty) {
      val dropSet = drop.toSet
      val p = props(tablePath)
      // pre-image of the dropped partitions pinned before the edit:
      // every mapping they held flips dead in the index reconcile
      val bound = boundIndexes(tablePath, p)
      val pre = bound.headOption.map { _ =>
        val m0 = manifest(tablePath)
        val dirs = m0.keySet.intersect(dropSet)
        val dPre = deltas(tablePath).filter(e => dropSet(e._1))
        val b =
          if (dirs.isEmpty) readOptimized(spark, tablePath).limit(0)
          else readDirs(spark, tablePath, dirs, m0, p)
        (if (dPre.isEmpty) b
         else mergeDeltas(b, deltaFrame(spark, tablePath, dPre, p), p))
          .localCheckpoint()
      }
      // the drop is invisible to the change feed — every cursor dies
      // (deltas pending or not); ratchet BEFORE either rewrite
      val c = FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
        retireDestructive(tablePath)
        val m0 = manifest(tablePath)
        val d = deltas(tablePath)
        val (gone, keptD) = d.partition(e => dropSet(e._1))
        writeManifest(tablePath, m0 -- drop)
        // dropped rows must not resurrect through the delta log
        if (gone.nonEmpty) writeDeltas(tablePath, keptD)
        logCommit(tablePath, "drop", m0, m0 -- drop, d, keptD)
      }
      for (preDf <- pre)
        maintainBound(spark, tablePath, bound, pre, preDf.limit(0), p, c)
    }
    drop
  }

  /** Rewrite ONLY `touched` slices through `transform`: their current
    * MERGED rows (base generation + any delta commits on those slices)
    * go in, the replacement comes out as a fresh generation, and the
    * absorbed delta entries retire. Slices the transform empties leave
    * the manifest; new rows may land in touched slices that were
    * empty. The shared core under the partitioned DML routes — caller
    * holds the table lock.
    */
  private def rewriteDirsLocked(spark: SparkSession, tablePath: String,
      touched: Set[String], p: Props)(
      transform: DataFrame => DataFrame): Seq[String] = {
    if (touched.isEmpty) return Seq.empty
    val committed = manifest(tablePath)
    val d = deltas(tablePath)
    // an EMPTIED table (committed and delta logs both empty) is still a
    // valid DML target: `read` serves the recorded-schema zero-row
    // frame, and the transform may INSERT (the MERGE-into-empty case)
    val liveTouched = touched.intersect(committed.keySet)
    val touchedDeltas = d.filter(e => touched(e._1))
    val gen = nextGen(tablePath)
    val base =
      if (liveTouched.isEmpty) read(spark, tablePath).limit(0)
      else readDirs(spark, tablePath, liveTouched, committed, p)
    val bound = boundIndexes(tablePath, p)
    val current0 =
      if (touchedDeltas.isEmpty) base
      else mergeDeltas(base, deltaFrame(spark, tablePath, touchedDeltas, p), p)
    // pinned pre-image when an index is bound: the touched slices'
    // rows as they were (a superset of what changed — except() in the
    // reconcile drops the unchanged ones, and re-upserting their live
    // mappings is an idempotent O(touched slices) write, the same
    // scale as the rewrite itself)
    val current = if (bound.isEmpty) current0 else current0.localCheckpoint()
    val next = transform(current).localCheckpoint()
    val written = writeGen(withShadow(next, p), tablePath, gen, p)
    require(written.toSet.subsetOf(touched),
      s"targeted rewrite produced rows outside its touched slices " +
        s"(${written.toSet -- touched}) — transform changed identity columns?")
    // the rewrite is invisible to the change feed — every cursor dies
    // (deltas pending or not); ratchet BEFORE either rewrite, and the
    // absorbed delta entries retire so a deleted row can't resurrect
    retireDestructive(tablePath)
    writeSchema(tablePath, next)
    val mNext = (committed -- (liveTouched -- written.toSet)) ++
      written.map(_ -> gen)
    val dNext = d.filterNot(e => touched(e._1))
    writeManifest(tablePath, mNext)
    if (touchedDeltas.nonEmpty) writeDeltas(tablePath, dNext)
    val c = logCommit(tablePath, "rewrite", committed, mNext, d, dNext)
    maintainBound(spark, tablePath, bound, Some(current), next, p, c)
    written
  }

  /** Targeted predicate rewrite — the SQL UPDATE/DELETE route for
    * partitioned tables when the predicate is NOT partition-only
    * (partition-only predicates go through [[dropPartitions]] /
    * partition pruning instead): one discovery scan of the merged
    * snapshot finds the slices holding matching rows, then only those
    * are rewritten. Returns the slice dirs rewritten.
    */
  def rewriteWhere(spark: SparkSession, tablePath: String,
      pred: Column)(transform: DataFrame => DataFrame): Seq[String] =
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val p = props(tablePath)
      val touched = touchedDirs(withShadow(read(spark, tablePath), p)
        .filter(pred), p)
      rewriteDirsLocked(spark, tablePath, touched.toSet, p)(transform)
    }

  /** Rewrite the slices `keyRows`' identities route to (the
    * conditional-MERGE route): `keyRows` must carry the full identity
    * (partition columns + keys); the transform sees those slices'
    * merged current rows and returns their replacement.
    */
  def rewriteKeys(spark: SparkSession, tablePath: String,
      keyRows: DataFrame)(transform: DataFrame => DataFrame): Seq[String] =
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val p = props(tablePath)
      val wanted = keyRows.select(p.identity.map(col): _*)
        .distinct().localCheckpoint()
      val touched = touchedDirs(withShadow(wanted, p), p)
      rewriteDirsLocked(spark, tablePath, touched.toSet, p)(transform)
    }

  /** Row-level delete by identity (partition columns + keys): rewrite
    * ONLY the slices the identities route to, minus the deleted rows.
    */
  def deleteFrom(spark: SparkSession, tablePath: String,
      keyRows: DataFrame): Seq[String] = {
    val p = props(tablePath)
    val wanted = keyRows.select(p.identity.map(col): _*)
      .distinct().localCheckpoint()
    rewriteKeys(spark, tablePath, wanted)(
      _.join(broadcast(wanted), p.identity, "left_anti"))
  }

  /** Rewrite every live partition at one fresh generation — collapses
    * the per-generation relation fan-in the same way
    * [[BucketTable.compact]] does. Returns the new generation.
    */
  def compact(spark: SparkSession, tablePath: String): Long = {
    val m = manifest(tablePath)
    if (m.isEmpty) {
      // an emptied table has nothing to collapse — no-op, no commit
      require(exists(tablePath), s"no partitioned table at $tablePath")
      return -1L
    }
    val p = props(tablePath)
    val gen = nextGen(tablePath)
    val written = writeGen(
      withShadow(readDirs(spark, tablePath, m.keySet, m, p), p),
      tablePath, gen, p)
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val m1 = manifest(tablePath)
      // the restate ran OUTSIDE the lock: an OCC writer may have
      // committed meanwhile. Its re-points inside our read set would
      // silently revert to the stale content we read — refuse toward a
      // retry; slices it ADDED outside the read set merge through
      val repointed = m.keySet.filter(dir => m1.get(dir) != m.get(dir))
      if (repointed.nonEmpty) {
        // the freshly written gen is pure debris on a conflict — remove
        // it here rather than leave a full-table rewrite for clean
        deleteRecursively(Paths.get(tablePath, s"gen=$gen"))
        throw new java.util.ConcurrentModificationException(
          s"compaction at $tablePath raced a writer on slices " +
            s"${repointed.toSeq.sorted.take(4).mkString(",")} — retry")
      }
      val mNext = (m1 -- m.keySet) ++ written.map(_ -> gen).toMap
      val d1 = deltas(tablePath)
      writeManifest(tablePath, mNext)
      val c = logCommit(tablePath, "compact", m1, mNext, d1, d1)
      // content-preserving commit: mappings unchanged, head advances
      boundIndexes(tablePath, p).foreach { case (_, idxPath) =>
        SecondaryIndex.markCovered(idxPath, c)
      }
    }
    gen
  }

  // ---- merge-on-read delta logs (per-slice) --------------------------

  private val DSeq = "__dseq"
  private val Deleted = "__deleted"

  private def deltasPath(tablePath: String): Path = Paths.get(tablePath, "_deltas")

  /** Committed delta log: `(slice dir, delta seq)` pairs, one per
    * slice a delta commit wrote. Seqs are sequential (1, 2, …),
    * allocated under the table lock like [[MorTable]]'s.
    */
  def deltas(tablePath: String): Seq[(String, Long)] = {
    val p = deltasPath(tablePath)
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val i = l.lastIndexOf(' ')
      (l.substring(0, i), l.substring(i + 1).toLong)
    }.toSeq
  }

  private def writeDeltas(tablePath: String, d: Seq[(String, Long)]): Unit = {
    val tmp = Paths.get(tablePath, s"_deltas.tmp${System.nanoTime()}")
    Files.writeString(tmp,
      d.sorted.map { case (s, g) => s"$s $g" }.mkString("\n"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, deltasPath(tablePath), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def floorPath(tablePath: String): Path = Paths.get(tablePath, "_dfloor")

  /** The CDC floor (`compactedThrough`): the highest delta seq whose
    * per-commit feed is no longer addressable — folded by
    * [[compactDeltas]] or retired wholesale by an overwrite / partition
    * drop / targeted rewrite. [[nextDeltaSeq]] allocates PAST it, so
    * change seqs are globally monotonic across compactions, and
    * [[changesSince]] rejects cursors below it loudly instead of
    * silently serving a renumbered feed.
    */
  def compactedThrough(tablePath: String): Long = {
    val p = floorPath(tablePath)
    if (!Files.exists(p)) 0L else Files.readString(p).trim.toLong
  }

  /** The newest change seq a consumer can checkpoint: max over the live
    * delta log and the floor (after a compaction the log is empty but
    * the head does NOT reset).
    */
  def changeHead(tablePath: String): Long =
    (deltas(tablePath).map(_._2) :+ compactedThrough(tablePath)).max

  /** Ratchet the floor UP to `seq` — never down (monotonic, so a
    * savepoint restore cannot re-validate cursors the compactor already
    * invalidated).
    */
  private def ratchetFloor(tablePath: String, seq: Long): Unit =
    if (seq > compactedThrough(tablePath)) {
      val tmp = Paths.get(tablePath, s"_dfloor.tmp${System.nanoTime()}")
      Files.writeString(tmp, seq.toString,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      Files.move(tmp, floorPath(tablePath), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

  /** Every removal of delta-log entries must ratchet the floor to the
    * highest seq it removed: those commits' row-level feed is gone, so
    * any cursor below them must fail loudly toward a re-sync. Callers
    * ratchet BEFORE rewriting the delta log — a crash (or a lock-free
    * [[changesSince]] reader) between the two steps then sees at worst
    * a floor ahead of a still-intact log, which forces a spurious loud
    * re-sync; the reverse order has a window where the folded commits
    * are gone but the floor still admits the cursor — exactly the
    * silent skip the floor exists to prevent.
    */
  private def retireDeltas(tablePath: String,
      removed: Seq[(String, Long)]): Unit =
    removed.map(_._2).maxOption.foreach(ratchetFloor(tablePath, _))

  /** Destructive retirement: the op restated or abandoned content
    * WITHOUT a delta commit recording the change (overwrite / drop /
    * targeted rewrite / savepoint restore), so NO existing cursor can
    * reconstruct it from the feed — consume a change seq and floor past
    * every cursor ([[MorTable.overwriteTable]]'s move: head+1). Unlike
    * [[retireDeltas]]' compaction path — where a cursor AT the floor
    * has genuinely seen everything and max-removed-seq is the right
    * ratchet — this fires even when the restated slices had NO pending
    * deltas: it is the invisible content change that invalidates the
    * cursors, not the log removal. Same ratchet-BEFORE-rewrite ordering
    * discipline as [[retireDeltas]].
    */
  private def retireDestructive(tablePath: String): Unit = {
    val past = changeHead(tablePath) + 1L
    // the cdc IMAGE feed dies with the post-image feed: a restate no
    // delta commit records has no images either
    CdcLog.ratchet(tablePath, past)
    ratchetFloor(tablePath, past)
  }

  // ---- row-level CDC images (see CdcLog) ------------------------------

  /** Turn on before/after image capture for the DELTA routes
    * ([[upsertDelta]] / [[deleteDelta]] — the high-frequency ingest
    * path CDC consumers follow). CoW writes ([[upsertInto]] /
    * [[attemptOcc]]) change content without a change seq, so they
    * ratchet the cdc floor: a mixed workload re-syncs loudly, never
    * reads a feed with invisible gaps.
    */
  override def enableCdc(tablePath: String): Unit =
    CdcLog.enable(tablePath, changeHead(tablePath))

  /** The image feed for `(sinceSeq, head]` — op ∈ {i,u,d}, flat
    * before/after columns, `_change_seq`. Survives [[compactDeltas]]
    * (images live outside the delta log); destructive ops and CoW
    * writes floor every cursor.
    */
  override def changesCdc(spark: SparkSession, tablePath: String,
      sinceSeq: Long): DataFrame =
    CdcLog.changes(spark, tablePath, sinceSeq,
      math.max(changeHead(tablePath), CdcLog.floor(tablePath)))

  /** Compute and stage delta commit `seq`'s images: the merged CURRENT
    * rows of the batch's identities are the before side (the caller's
    * shared routed probe — an identity's rows can only live in its own
    * partition slice, so the probe reads O(touched slices), never the
    * snapshot); the read merge replayed over them plus the batch is
    * the after side — exactly what [[read]] will serve, including
    * precombine losers (no image) and tombstones (a `d` with the
    * victim as before). Caller holds the table lock, delta log not yet
    * swung.
    */
  private def stageCdcDelta(spark: SparkSession, tablePath: String,
      seq: Long, tagged: DataFrame, p: Props, before: DataFrame): Unit = {
    val clean0 = tagged.drop(p.partitionCols.map(Shadow + _) :+ Group: _*)
    // upsert batches carry no tombstone flag — materialize it so the
    // merge filter below always resolves (delete batches already have
    // it); a projection of the caller-checkpointed batch, consumed once
    val clean =
      if (clean0.columns.contains(Deleted)) clean0
      else clean0.withColumn(Deleted, lit(false))
    val after = HudiLike.precombineLatest(
      SchemaShim.unionByName(before.withColumn(DSeq, lit(0L)),
        clean.withColumn(DSeq, lit(seq))),
      p.identity, p.precombine, DSeq +: p.tieBreak)
      .filter(!coalesce(col(Deleted), lit(false)))
      .drop(DSeq, Deleted)
    CdcLog.stage(tablePath, seq, CdcLog.diff(before, after, p.identity))
  }

  /** The shared keyed before-state probe of the delta routes: the
    * batch identities' current merged rows, routed to the touched
    * slices, checkpointed once — consumed by the cdc before-image AND
    * every bound index's pre-state (previously two separate probes,
    * one of them a full-snapshot scan).
    */
  private def beforeState(spark: SparkSession, tablePath: String,
      tagged: DataFrame, wanted: DataFrame, touched: Set[String],
      p: Props): DataFrame =
    (if (manifest(tablePath).isEmpty && deltas(tablePath).isEmpty)
       tagged.drop(p.dirCols: _*).limit(0)
     else lookupManyRouted(spark, tablePath, wanted, touched, p))
      .localCheckpoint()

  /** MERGE-ON-READ upsert: append the precombined batch as a delta
    * commit — one partitioned write of O(batch) rows, NO base read,
    * no rewrite of anything. This is the per-commit cost floor for
    * high-frequency ingest (Hudi MOR's log append): [[upsertInto]]
    * pays O(touched slices of the table) per commit, this pays
    * O(batch), and the read side merges ([[read]]) until
    * [[compactDeltas]] folds the logs back into the base. Serialized
    * under the table lock (seq allocation is read-modify-write).
    */
  def upsertDelta(spark: SparkSession, tablePath: String,
      incoming: DataFrame): Seq[String] = {
    val p = props(tablePath)
    val (tagged, touchedD) = checkpointTouched(withShadow(
      HudiLike.precombineLatest(incoming, p.identity, p.precombine, p.tieBreak),
      p), p)
    val touched = touchedD.toSet
    if (touched.isEmpty) return Seq.empty
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val existing = deltas(tablePath)
      val seq = nextDeltaSeq(tablePath, existing)
      val dir = Paths.get(tablePath, s"dgen=$seq")
      if (Files.exists(dir)) deleteRecursively(dir) // crashed writer's orphan
      CdcLog.discard(tablePath, seq)
      val bound = boundIndexes(tablePath, p)
      val cdcOn = CdcLog.enabled(tablePath)
      // ONE routed keyed probe serves the cdc before-image AND the
      // index pre-state (guide §2.4 — these were two probes, the cdc
      // one a full-snapshot scan)
      val wanted = // plain projection: precombined batch, unique identities
        if (cdcOn || bound.nonEmpty)
          Some(tagged.select(p.identity.map(col): _*))
        else None
      val before = wanted.map(w =>
        beforeState(spark, tablePath, tagged, w, touched, p))
      // images staged pre-swing, published post-swing (CdcLog's
      // two-phase contract — a crash loses images loudly, never
      // publishes images of a commit that didn't happen)
      if (cdcOn) stageCdcDelta(spark, tablePath, seq, tagged, p, before.get)
      val pre = if (bound.nonEmpty) before else None
      UnitSchema.write(tagged.repartition(p.dirCols.map(col): _*),
        dir.toString, partitionBy = p.dirCols)
      val written = leafDirs(dir, p)
      val m0 = manifest(tablePath)
      writeDeltas(tablePath, existing ++ written.map(_ -> seq))
      CdcLog.publish(tablePath, seq)
      val c = logCommit(tablePath, "delta",
        m0, m0, existing, existing ++ written.map(_ -> seq))
      maintainBound(spark, tablePath, bound, pre,
        lookupManyRouted(spark, tablePath, wanted.get, touched, p), p, c)
      written
    }
  }

  /** Row-level DELETE through the delta log: append tombstones for
    * the given identities (Hudi's `_hoodie_is_deleted` payload).
    * `deletes` must carry the identity columns (partition cols + keys)
    * plus a precombine value that OUTRANKS the rows it retires; other
    * columns land NULL. O(batch) like any delta commit; the rows
    * disappear from snapshot reads immediately and physically at the
    * next [[compactDeltas]]. A later upsert with a higher precombine
    * legitimately resurrects the key.
    */
  def deleteDelta(spark: SparkSession, tablePath: String,
      deletes: DataFrame): Seq[String] = {
    val p = props(tablePath)
    val (tagged, touchedD) = checkpointTouched(withShadow(
      HudiLike.precombineLatest(deletes, p.identity, p.precombine, p.tieBreak)
        .withColumn(Deleted, lit(true)), p), p)
    val touched = touchedD.toSet
    if (touched.isEmpty) return Seq.empty
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val existing = deltas(tablePath)
      val seq = nextDeltaSeq(tablePath, existing)
      val dir = Paths.get(tablePath, s"dgen=$seq")
      if (Files.exists(dir)) deleteRecursively(dir)
      CdcLog.discard(tablePath, seq)
      val bound = boundIndexes(tablePath, p)
      val cdcOn = CdcLog.enabled(tablePath)
      // ONE routed keyed probe serves the cdc before-image AND the
      // index pre-state (see upsertDelta)
      val wanted = // plain projection: precombined batch, unique identities
        if (cdcOn || bound.nonEmpty)
          Some(tagged.select(p.identity.map(col): _*))
        else None
      val before = wanted.map(w =>
        beforeState(spark, tablePath, tagged, w, touched, p))
      // images staged pre-swing, published post-swing (CdcLog's
      // two-phase contract — a crash loses images loudly, never
      // publishes images of a commit that didn't happen)
      if (cdcOn) stageCdcDelta(spark, tablePath, seq, tagged, p, before.get)
      val pre = if (bound.nonEmpty) before else None
      UnitSchema.write(tagged.repartition(p.dirCols.map(col): _*),
        dir.toString, partitionBy = p.dirCols)
      val written = leafDirs(dir, p)
      val m0 = manifest(tablePath)
      writeDeltas(tablePath, existing ++ written.map(_ -> seq))
      CdcLog.publish(tablePath, seq)
      val c = logCommit(tablePath, "ddelete",
        m0, m0, existing, existing ++ written.map(_ -> seq))
      // post-probe sees the tombstones applied: vanished identities'
      // mappings flip dead in the reconcile
      maintainBound(spark, tablePath, bound, pre,
        lookupManyRouted(spark, tablePath, wanted.get, touched, p), p, c)
      written
    }
  }

  /** Read-optimized view: the compacted base only — delta commits not
    * yet folded in are invisible (Hudi's `read_optimized` query type).
    */
  def readOptimized(spark: SparkSession, tablePath: String): DataFrame = {
    val m = manifest(tablePath)
    if (m.isEmpty) {
      require(exists(tablePath), s"no partitioned table at $tablePath")
      // a rewrite/drop can legitimately empty every partition — serve
      // the zero-row snapshot at the recorded schema, not an error
      return emptySnapshot(spark, tablePath)
    }
    readDirs(spark, tablePath, m.keySet, m, props(tablePath))
  }

  /** All delta rows as one frame with the commit seq attached. */
  private def deltaFrame(spark: SparkSession, tablePath: String,
      d: Seq[(String, Long)], p: Props): DataFrame =
    d.groupBy(_._2).map { case (seq, entries) =>
      val unit = s"$tablePath/dgen=$seq"
      val df = UnitSchema.read(spark, unit,
        entries.map(e => s"$unit/${e._1}").toSeq.sorted, partitioned = true)
        .drop(p.partitionCols.map(Shadow + _) :+ Group: _*)
        .withColumn(DSeq, lit(seq))
      // upsert commits predate/omit the tombstone flag — normalize so
      // the merge can always reference it
      if (df.columns.contains(Deleted)) df
      else df.withColumn(Deleted, lit(false))
    }.reduce(SchemaShim.unionByName)

  /** Merge base and delta rows: latest per identity by (precombine,
    * commit seq, tieBreak) — on a precombine tie the LATER commit
    * wins, so a delta overrides the base row it shadows (same rule as
    * [[MorTable]]).
    */
  private def mergeDeltas(base: DataFrame, deltaDf: DataFrame,
      p: Props): DataFrame =
    HudiLike.precombineLatest(
      SchemaShim.unionByName(base.withColumn(DSeq, lit(0L)), deltaDf),
      p.identity, p.precombine, DSeq +: p.tieBreak)
      // an identity whose winning version is a tombstone is deleted;
      // base rows and plain delta rows carry no flag (null -> false)
      .filter(!coalesce(col(Deleted), lit(false)))
      .drop(DSeq, Deleted)

  /** Fold every delta commit into the base: the slices that carry
    * deltas — and ONLY those — are rewritten at a fresh generation
    * with the merged content, and the delta log resets. Returns the
    * new generation, or None when there was nothing to compact.
    *
    * Compaction TRUNCATES the [[changesSince]] feed (the folded
    * commits are no longer individually addressable) — downstream
    * consumers must pull before the compactor runs, the same contract
    * as Hudi's cleaner archiving commits past the retained window.
    */
  def compactDeltas(spark: SparkSession, tablePath: String): Option[Long] =
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val d = deltas(tablePath)
      if (d.isEmpty) None
      else {
        val p = props(tablePath)
        val m = manifest(tablePath)
        val slices = d.map(_._1).toSet
        val baseSlices = m.keySet.intersect(slices)
        val base =
          if (baseSlices.isEmpty)
            readDirs(spark, tablePath, m.keySet, m, p).limit(0)
          else readDirs(spark, tablePath, baseSlices, m, p)
        val merged = mergeDeltas(base, deltaFrame(spark, tablePath, d, p), p)
        val gen = nextGen(tablePath)
        val written = writeGen(withShadow(merged, p), tablePath, gen, p)
        // a delta-bearing slice whose merged content is EMPTY (every
        // row tombstoned) produces no output dir — its old manifest
        // entry must RETIRE with the fold, or the pre-delete rows
        // resurrect (the rewriteDirsLocked discipline; CdcReplayProps
        // caught the miss here)
        val mNext = (m -- (baseSlices -- written.toSet)) ++
          written.map(_ -> gen)
        writeManifest(tablePath, mNext)
        // floor = last folded seq (numbering never restarts), ratcheted
        // BEFORE the log empties — see retireDeltas
        retireDeltas(tablePath, d)
        writeDeltas(tablePath, Seq.empty)
        val c = logCommit(tablePath, "dcompact", m, mNext, d, Seq.empty)
        // the fold preserves the merged content (mappings unchanged)
        boundIndexes(tablePath, p).foreach { case (_, idxPath) =>
          SecondaryIndex.markCovered(idxPath, c)
        }
        Some(gen)
      }
    }

  /** Inline-compaction trigger: fold the delta log once it holds at
    * least `maxDeltaCommits` commits — the policy Hudi schedules
    * between streaming commits (`hoodie.compact.inline.max.delta.commits`).
    * Bounds the snapshot read's merge fan-in on a long-running stream
    * while keeping most commits at the O(batch) append cost. Returns
    * the new generation when compaction ran.
    */
  def maybeCompactDeltas(spark: SparkSession, tablePath: String,
      maxDeltaCommits: Int = 8): Option[Long] = {
    val pending = deltas(tablePath).map(_._2).distinct.size
    if (pending >= maxDeltaCommits) compactDeltas(spark, tablePath) else None
  }

  /** Incremental CDC pull from the delta log: every delta commit with
    * seq > `sinceSeq`, each row stamped with its commit seq
    * (`change_seq`) — O(changes) read, no base scan, no diff join
    * (the per-slice twin of [[MorTable.incrementalRead]]). Each delta
    * commit is itself precombined, so the feed is
    * latest-per-identity-per-commit.
    */
  def changesSince(spark: SparkSession, tablePath: String,
      sinceSeq: Long): DataFrame = {
    val p = props(tablePath)
    // the cursor's unseen window was folded (compaction) or retired
    // wholesale (overwrite / drop / targeted rewrite): its per-commit
    // feed no longer exists — fail loudly toward a snapshot re-sync
    // instead of silently skipping it
    val floor = compactedThrough(tablePath)
    require(sinceSeq >= floor,
      s"incremental cursor $sinceSeq predates the compaction floor " +
        s"$floor at $tablePath — the unseen window was folded into the " +
        "base; re-sync from a snapshot read and checkpoint changeHead")
    val d = deltas(tablePath).filter(_._2 > sinceSeq)
    if (d.isEmpty) readOptimized(spark, tablePath).limit(0)
      .withColumn("change_seq", lit(0L))
      .withColumn("deleted", lit(false))
    else deltaFrame(spark, tablePath, d, p)
      .withColumnRenamed(DSeq, "change_seq")
      .withColumn("deleted", coalesce(col(Deleted), lit(false)))
      .drop(Deleted)
  }

  // --------------------------------------------------------------------

  /** The highest committed generation — the "commit instant" a
    * downstream consumer records to pull increments later.
    */
  def latestGen(tablePath: String): Long =
    manifest(tablePath).values.maxOption.getOrElse(-1L)

  /** The CURRENT data files, manifest-resolved: each live partition's
    * parquet files at its committed generation. Superseded generations
    * still on disk (pre-[[clean]]) are excluded — this is the file
    * list a [[StatsIndex]] over the table must index
    * (`StatsIndex.buildFromFiles`/`syncToFiles`/`scanFiles`).
    */
  def liveFiles(spark: SparkSession, tablePath: String): Seq[String] =
    manifest(tablePath).toSeq.flatMap { case (d, g) =>
      val dir = Paths.get(tablePath, s"gen=$g", d)
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(f => f.toString.endsWith(".parquet"))
        .map(_.toAbsolutePath.toString).toSeq
      finally s.close()
    }.sorted

  /** Hudi-style incremental query at partition granularity: the
    * current rows of every partition rewritten AFTER generation
    * `sinceGen`. A downstream consumer that processed the table as of
    * `sinceGen` re-reads only the partitions later commits touched —
    * O(changed days), never O(table) — the partition-path twin of
    * [[Timeline.incrementalRead]]'s row-level change pull. Returns the
    * changed partitions' full current content (a day's restatement
    * re-delivers the day, the contract partition-granular downstream
    * jobs — daily aggregates, exports — actually want).
    */
  def incrementalRead(spark: SparkSession, tablePath: String,
      sinceGen: Long): DataFrame = {
    val m = manifest(tablePath)
    require(m.nonEmpty, s"no partitioned table at $tablePath")
    val changed = m.filter(_._2 > sinceGen).keySet
    if (changed.isEmpty) read(spark, tablePath).limit(0)
    else readDirs(spark, tablePath, changed, m, props(tablePath))
  }

  /** Inline-clustering trigger: run [[cluster]] once any live slice
    * has accumulated at least `minFilesPerSlice` data files — the
    * small-file policy Hudi's clustering scheduler applies between
    * commits (append-heavy ingest fragments slices; clustering
    * coalesces them into sorted range files). Returns the new
    * generation when clustering ran.
    */
  def maybeCluster(spark: SparkSession, tablePath: String,
      sortCols: Seq[String], minFilesPerSlice: Int = 8,
      targetFileRows: Long = 4000000L): Option[Long] = {
    val m = manifest(tablePath)
    val fragmented = m.exists { case (d, g) =>
      val dir = Paths.get(tablePath, s"gen=$g", d)
      val s = Files.list(dir)
      val n = try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
        finally s.close()
      n >= minFilesPerSlice
    }
    if (fragmented) Some(cluster(spark, tablePath, sortCols, targetFileRows))
    else None
  }

  /** Hudi-style CLUSTERING table service: rewrite every live partition
    * with its rows range-distributed and sorted on `sortCols`, so each
    * file within a partition carries a DISJOINT sort-key range. Data is
    * unchanged (`p_part_cluster`'s oracle pins it); what changes is
    * file-level statistics quality: a post-clustering range predicate
    * on the sort key matches ~one file per partition instead of all of
    * them, which parquet row-group stats (and a [[graft.etl.StatsIndex]]
    * over the table's files) turn into skipped I/O. The task count —
    * hence file count — is `ceil(rows / targetFileRows)`, Hudi's
    * target-file-size knob expressed in rows.
    *
    * Range distribution keys on (partition dirs ++ sortCols), so a
    * task's rows land in one partition (boundary tasks at most two) and
    * a contiguous sort range — one range exchange for the whole table,
    * not a per-partition job loop. Returns the new generation;
    * [[clean]] reclaims the superseded dirs.
    */
  def cluster(spark: SparkSession, tablePath: String, sortCols: Seq[String],
      targetFileRows: Long): Long =
    clusterBy(spark, tablePath, sortCols.map(col), targetFileRows)

  /** [[cluster]] generalized to sort EXPRESSIONS — e.g. a Morton
    * z-value (`expr(Scale.zValueSql(x, y, "div"))`) for
    * multi-dimensional clustering where a single-column sort can only
    * tighten one dimension's file stats. The expressions are computed
    * into temporary columns for the range exchange and dropped before
    * the write, so the table schema is untouched.
    */
  def clusterBy(spark: SparkSession, tablePath: String,
      sortExprs: Seq[Column], targetFileRows: Long = 4000000L): Long = {
    val m = manifest(tablePath)
    require(m.nonEmpty, s"no partitioned table at $tablePath")
    require(sortExprs.nonEmpty, "at least one clustering sort expression")
    val p = props(tablePath)
    val data = readDirs(spark, tablePath, m.keySet, m, p)
    val rows = data.count()
    val numFiles = math.max(1L, (rows + targetFileRows - 1) / targetFileRows).toInt
    val gen = nextGen(tablePath)
    val sortNames = sortExprs.indices.map(i => s"__sort$i")
    val layout = p.dirCols.map(col) ++ sortNames.map(col)
    val arranged = sortExprs.zip(sortNames)
      .foldLeft(withShadow(data, p)) { case (df, (e, n)) => df.withColumn(n, e) }
      .repartitionByRange(numFiles, layout: _*)
      .sortWithinPartitions(layout: _*)
      .drop(sortNames: _*)
    val written = writeGenPrepared(arranged, tablePath, gen, p)
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      val m1 = manifest(tablePath)
      // same race as compact: the sort rewrite ran outside the lock
      val repointed = m.keySet.filter(dir => m1.get(dir) != m.get(dir))
      if (repointed.nonEmpty) {
        // conflicted full-table rewrite = debris; remove before retry
        deleteRecursively(Paths.get(tablePath, s"gen=$gen"))
        throw new java.util.ConcurrentModificationException(
          s"clustering at $tablePath raced a writer on slices " +
            s"${repointed.toSeq.sorted.take(4).mkString(",")} — retry")
      }
      val mNext = (m1 -- m.keySet) ++ written.map(_ -> gen).toMap
      val d1 = deltas(tablePath)
      writeManifest(tablePath, mNext)
      val c = logCommit(tablePath, "cluster", m1, mNext, d1, d1)
      boundIndexes(tablePath, p).foreach { case (_, idxPath) =>
        SecondaryIndex.markCovered(idxPath, c)
      }
    }
    gen
  }

  // ---- bound GLOBAL record-level index (Hudi 0.14 RLI) ----------------
  //
  // The partitioned layout's identity is partition-scoped — a key
  // lookup WITHOUT the partition value would otherwise scan every
  // partition's slices. The RLI maps key → identity (partition values)
  // from one probed bucket, so `WHERE key = v` and a global purge read
  // ONE slice at any table size. It is a BucketTable of
  // (keys ++ partitionCols, __live, __commit) entries bucketed by the
  // key columns, maintained by the same engine binding discipline as
  // the secondary index (every mutation primitive reconciles it, the
  // covered-head serve check catches crash-torn maintenance).

  private def rliPath(tablePath: String): Path = Paths.get(tablePath, "_rli")

  /** The bound record-level index's path, if any. */
  def boundRecordIndex(tablePath: String): Option[String] = {
    val p = rliPath(tablePath)
    if (!Files.exists(p)) None else Some(Files.readString(p).trim)
  }

  def bindRecordIndex(tablePath: String, indexPath: String): Unit = {
    Files.writeString(rliPath(tablePath), indexPath,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    ()
  }

  def unbindRecordIndex(tablePath: String): Unit = {
    Files.deleteIfExists(rliPath(tablePath))
    ()
  }

  override def boundIndexArtifacts(tablePath: String): Seq[(String, String)] =
    super.boundIndexArtifacts(tablePath) ++
      boundRecordIndex(tablePath).toSeq.map(idx => ("record", idx))

  /** Every engine-bound index artifact as (mapping projection, path):
    * the secondary index stores (sec, identity) mappings, the RLI
    * (key, partition) mappings — both reconcile from the same pre/post
    * full-row states, each through its own projection.
    */
  private def boundIndexes(tablePath: String,
      p: Props): Seq[(Seq[String], String)] =
    boundSecondaryIndexes(tablePath).map { case (sec, idx) =>
      (sec ++ p.identity, idx) } ++
      boundRecordIndex(tablePath).map(rli => (p.keys ++ p.partitionCols, rli))

  /** Current rows for the given identities (partition cols + keys):
    * route each identity through the same shadow/group expressions
    * records are written by, and read ONLY the slices they land in —
    * base generations merged with those slices' pending deltas. The
    * multi-row analog of [[lookup]]: O(touched slices) at any table
    * size. `idRows` may carry extra columns; only the identity
    * columns participate (null-safely, like every merge here).
    */
  def lookupMany(spark: SparkSession, tablePath: String,
      idRows: DataFrame): DataFrame = {
    val p = props(tablePath)
    // shadow-tagged BEFORE the checkpoint so the dir routing rides the
    // checkpoint job (was: a second distinct+collect action)
    val (wantedS, touched) = checkpointTouched(
      withShadow(idRows.select(p.identity.map(col): _*).distinct(), p), p)
    lookupManyRouted(spark, tablePath, wantedS.drop(p.dirCols: _*),
      touched.toSet, p)
  }

  /** [[lookupMany]] with the routing already done — the maintenance
    * paths call this with the key frame and touched-dir set their
    * commit ALREADY derived (guide §2.4: the probe's dedup/route jobs
    * were pure duplicates of the commit's own).
    */
  private def lookupManyRouted(spark: SparkSession, tablePath: String,
      wanted: DataFrame, touched: Set[String], p: Props): DataFrame = {
    val m = manifest(tablePath)
    val baseKeep = m.keySet.intersect(touched)
    val dKeep = deltas(tablePath).filter(e => touched(e._1))
    val base =
      if (baseKeep.nonEmpty) readDirs(spark, tablePath, baseKeep, m, p)
      else if (dKeep.nonEmpty)
        deltaFrame(spark, tablePath, dKeep, p).drop(DSeq, Deleted).limit(0)
      else return readOptimized(spark, tablePath).limit(0)
    val slice =
      if (dKeep.isEmpty) base
      else mergeDeltas(base, deltaFrame(spark, tablePath, dKeep, p), p)
    val cond = p.identity.map(k => slice(k) <=> wanted(k)).reduce(_ && _)
    slice.join(wanted, cond, "left_semi")
  }

  /** Reconcile the bound index from pre/post FULL-ROW states of a
    * commit's touched rows, then record `commitNo` as covered. Runs
    * AFTER the metadata swing (the MOR covering discipline: an index
    * ahead of the commit would serve uncommitted rows); the crash
    * window between swing and reconcile is caught by the covered-head
    * serve check ([[SecondaryIndex.ensureCurrent]]) — the head only
    * advances through a contiguous covered prefix, so out-of-order OCC
    * reconciles park until the gap closes. Index-maint-lock only, so
    * the caller may hold the table lock (ordering: table → index,
    * never the reverse).
    */
  private def maintainBound(spark: SparkSession, tablePath: String,
      bound: Seq[(Seq[String], String)], pre: Option[DataFrame],
      post: => DataFrame, p: Props, commitNo: Long): Unit =
    for (preDf <- pre if bound.nonEmpty) {
      // sideDiff consumes post once per index — materialize it only
      // when SEVERAL indexes would each re-evaluate the probe
      val postC = if (bound.sizeIs > 1) post.localCheckpoint() else post
      for ((projCols, idxPath) <- bound)
        SecondaryIndex.withMaintLock(idxPath) {
          MaintProf.timed("part.reconcile")(
            SecondaryIndex.reconcile(spark, idxPath,
              preDf.select(projCols.map(col): _*),
              postC.select(projCols.map(col): _*)))
          MaintProf.timed("part.markCovered")(
            SecondaryIndex.markCoveredLocked(idxPath, commitNo))
        }
    }

  // ---- savepoints (the pin file family is TableLayout's) -------------

  /** A partitioned savepoint pins the manifest AND the pending delta
    * log (a snapshot is both), so [[clean]] keeps every referenced
    * generation and delta commit alive.
    */
  protected def savepointBody(tablePath: String): String = {
    val m = manifest(tablePath)
    require(m.nonEmpty, s"no committed state to savepoint at $tablePath")
    (m.toSeq.sorted.map { case (d, g) => s"M $d $g" } ++
      deltas(tablePath).sorted.map { case (d, g) => s"D $d $g" }).mkString("\n")
  }

  private def savepointState(tablePath: String,
      name: String): (Map[String, Long], Seq[(String, Long)]) = {
    val lines = savepointLines(tablePath, name)
    def parse(tag: String) = lines.filter(_.startsWith(tag + " ")).map { l =>
      val body = l.drop(2)
      val i = body.lastIndexOf(' ')
      body.substring(0, i) -> body.substring(i + 1).toLong
    }
    (parse("M").toMap, parse("D"))
  }

  /** Generations referenced by ANY savepoint — writers must never
    * reuse these ids: after a [[restoreSavepoint]] the live manifest's
    * max reverts, and a naive max+1 would collide with (and
    * [[rollbackOrphan]] would destroy) a generation a LATER savepoint
    * still pins.
    */
  private def pinnedGens(tablePath: String): Set[Long] =
    savepoints(tablePath).flatMap(savepointState(tablePath, _)._1.values).toSet

  /** Delta commit seqs referenced by any savepoint (same hazard as
    * [[pinnedGens]], for the delta log).
    */
  private def pinnedDgens(tablePath: String): Set[Long] =
    savepoints(tablePath).flatMap(savepointState(tablePath, _)._2.map(_._2)).toSet

  /** Next base generation id: past everything live AND pinned. */
  private def nextGen(tablePath: String): Long =
    ((manifest(tablePath).values ++ pinnedGens(tablePath)) ++ Seq(-1L)).max + 1

  /** Next delta commit seq: past everything live, pinned, AND the
    * compaction floor — seqs retired by compaction/overwrite are never
    * reissued, so a CDC cursor can never alias into a renumbered feed.
    */
  private def nextDeltaSeq(tablePath: String,
      existing: Seq[(String, Long)]): Long =
    ((existing.map(_._2) ++ pinnedDgens(tablePath)) ++
      Seq(0L, compactedThrough(tablePath)) ++
      // the cdc floor participates: a destructive ratchet past the
      // head must never be aliased by the next delta seq
      (if (CdcLog.enabled(tablePath)) Seq(CdcLog.floor(tablePath))
       else Nil)).max + 1

  /** The pinned base merged with the pinned delta log. */
  def readSavepoint(spark: SparkSession, tablePath: String,
      name: String): DataFrame = {
    val p = props(tablePath)
    val (m, d) = savepointState(tablePath, name)
    val base = readDirs(spark, tablePath, m.keySet, m, p)
    if (d.isEmpty) base
    else mergeDeltas(base, deltaFrame(spark, tablePath, d, p), p)
  }

  /** Atomically restore manifest and delta log under the table lock.
    * Later generations and delta commits become debris for [[clean]].
    */
  def restoreSavepoint(spark: SparkSession, tablePath: String,
      name: String): Unit = {
    // a restore rewrites table state with no per-row diff to reconcile
    // the index by — refuse loudly rather than leave the index diverged
    // from restored state
    require(boundSecondaryIndexes(tablePath).isEmpty &&
        boundRecordIndex(tablePath).isEmpty,
      s"restore at $tablePath with a bound index would leave " +
        "the index diverged — DROP INDEX first, restore, then re-create")
    val (m, d) = savepointState(tablePath, name)
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      // the restore rewrites history invisibly to the change feed —
      // EVERY cursor dies (whether or not post-savepoint delta commits
      // existed), because rows the consumer already integrated may now
      // be gone; ratchet past the head BEFORE the rewrite (see
      // retireDestructive) so re-sync is loud, never a silent replay
      // of a diverged history
      retireDestructive(tablePath)
      val (m0, d0) = (manifest(tablePath), deltas(tablePath))
      writeManifest(tablePath, m)
      writeDeltas(tablePath, d)
      logCommit(tablePath, "restore", m0, m, d0, d)
    }
    ()
  }

  def changeCounts(tablePath: String): (Long, Long, Long) =
    (deltas(tablePath).map(_._2).distinct.size.toLong, changeHead(tablePath),
      compactedThrough(tablePath))

  // --------------------------------------------------------------------

  /** Remove partition dirs no manifest entry references (aborted
    * writers, superseded or dropped partitions). Generations and delta
    * commits referenced by a [[savepoint]] count as live. Returns
    * removed paths.
    */
  def clean(tablePath: String, keepVersions: Int): Seq[String] = {
    def listDir(path: Path): Seq[Path] = {
      val s = Files.list(path)
      try s.iterator().asScala.toSeq finally s.close()
    }
    val p = props(tablePath)
    // KEEP_LATEST_COMMITS retention: the newest `keepVersions` commits'
    // (manifest, delta) states stay readable — VERSION AS OF is
    // guaranteed inside the window, loud outside it
    val head = latestCommit(tablePath)
    val retained =
      if (keepVersions <= 0) Seq.empty
      else {
        require(head >= 1,
          s"clean($tablePath, keepVersions=$keepVersions): no commit " +
            "log (table predates commit logging) — retention needs " +
            "logged history")
        (math.max(1L, head - keepVersions + 1) to head)
          .map(stateAsOf(tablePath, _))
      }
    val pins = savepoints(tablePath).map(savepointState(tablePath, _))
    val pinnedManifest = pins.flatMap(_._1.toSeq) ++
      retained.flatMap(_._1.toSeq)
    val pinnedDeltas = pins.flatMap(_._2) ++ retained.flatMap(_._2)
    val live: Map[Long, Set[String]] = (manifest(tablePath).toSeq ++ pinnedManifest)
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    // delta generations: a dgen dir is live while ANY _deltas entry —
    // current or savepoint-pinned — references it (slice-level sweep
    // not needed: delta commits are dropped whole by
    // compaction/overwrite/drop)
    val liveDgens = (deltas(tablePath) ++ pinnedDeltas).map(_._2).toSet
    val dgenGone = listDir(Paths.get(tablePath))
      .filter(_.getFileName.toString.startsWith("dgen="))
      .filterNot(d => liveDgens(d.getFileName.toString.drop(5).toLong))
      .map { d => deleteRecursively(d); d.getFileName.toString }
    dgenGone ++ listDir(Paths.get(tablePath))
      .filter(_.getFileName.toString.startsWith("gen="))
      .flatMap { genDir =>
        val gen = genDir.getFileName.toString.drop(4).toLong
        val liveDirs = live.getOrElse(gen, Set.empty)
        def sweep(d: Path, depth: Int): Seq[String] =
          if (depth == 0) {
            val rel = genDir.relativize(d).toString.replace('\\', '/')
            if (!liveDirs(rel)) { deleteRecursively(d); Seq(s"gen=$gen/$rel") }
            else Seq.empty
          } else listDir(d)
            .filter { x =>
              val n = x.getFileName.toString
              n.startsWith(Shadow) || n.startsWith(Group + "=")
            }
            .flatMap(sweep(_, depth - 1))
        val gone = sweep(genDir, p.dirDepth)
        // drop the gen dir itself once no partition dirs remain in it
        if (liveDirs.isEmpty && listDir(genDir)
            .forall(!_.getFileName.toString.startsWith(Shadow))) {
          deleteRecursively(genDir)
          gone :+ s"gen=$gen"
        } else gone
      }
  }
}
