package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Record-level index (RLI) over a [[BloomTable]] — Hudi 1.0's
  * record-level index rebuilt Spark-side: an EXACT record-key → data-file
  * mapping, hash-sharded by key, that turns a point lookup into
  * "read one index shard, then read exactly one data file" with no
  * bloom false positives and no range fan-out. (Hudi keeps the same
  * structure as hash-partitioned file groups of its metadata table;
  * the lookup path there is identical: hash the key to one metadata
  * shard, resolve the file group, read it.)
  *
  * Layout under `tablePath/_rli/`:
  *   - `_props`     `shards=N`
  *   - `_manifest`  one `shard version` line per shard that has
  *                  entries, swapped by atomic rename
  *   - `_files`     the table-relative data files the index covers —
  *                  O(files) lines; equality with the table's live
  *                  manifest is the freshness check
  *   - `s=K/v=M/`   shard K at version M: parquet of (key cols, file)
  *
  * Maintenance is shard-incremental: a refresh after an upsert scans
  * only the files the commit wrote, and rewrites only the shards those
  * records hash into (plus it opportunistically drops entries for
  * retired files from any shard it rewrites). Because a rewritten
  * file's keys hash across many shards, a refresh may touch most
  * shards of a SMALL index — the same scatter Hudi's RLI update pays
  * across its metadata file groups; per-shard work stays O(shard).
  *
  * Correctness never depends on freshness: [[lookup]] validates the
  * resolved file against the table's live manifest and falls back to
  * [[BloomTable.lookup]] when the index is stale for that key — the
  * same self-healing discipline as `BloomTable.indexSnapshot`.
  */
object RecordIndex {

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  private def rliDir(t: String): Path = Paths.get(t, "_rli")
  private def propsPath(t: String): Path = rliDir(t).resolve("_props")
  private def manifestPath(t: String): Path = rliDir(t).resolve("_manifest")
  private def filesPath(t: String): Path = rliDir(t).resolve("_files")

  def exists(tablePath: String): Boolean = Files.exists(manifestPath(tablePath))

  /** Drop the index: delete `_rli/` under the table lock (the same
    * serialization build/refresh take). The table itself is untouched;
    * point reads fall back to the bloom route.
    */
  def drop(tablePath: String): Unit =
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs) {
      FsUtil.deleteRecursively(rliDir(tablePath))
    }

  def shards(tablePath: String): Int =
    Files.readAllLines(propsPath(tablePath)).asScala
      .map(_.split('=')).collectFirst { case Array("shards", v) => v.toInt }.get

  /** shard id → live version for every shard that has entries. */
  def shardVersions(tablePath: String): Map[Int, Long] =
    Files.readAllLines(manifestPath(tablePath)).asScala
      .filter(_.nonEmpty).map(_.split(' '))
      .map { case Array(s, v) => s.toInt -> v.toLong }.toMap

  /** Table-relative data files the index currently covers. */
  def coveredFiles(tablePath: String): Set[String] =
    Files.readAllLines(filesPath(tablePath)).asScala
      .filter(_.nonEmpty).toSet

  private def atomicWrite(path: Path, content: String): Unit = {
    val tmp = path.resolveSibling(s".${path.getFileName}.tmp${System.nanoTime()}")
    Files.writeString(tmp, content,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def writeShardManifest(tablePath: String, m: Map[Int, Long]): Unit =
    atomicWrite(manifestPath(tablePath),
      m.toSeq.sorted.map { case (s, v) => s"$s $v" }.mkString("", "\n", "\n"))

  private def writeCovered(tablePath: String, files: Set[String]): Unit =
    atomicWrite(filesPath(tablePath), files.toSeq.sorted.mkString("", "\n", "\n"))

  private def absBase(tablePath: String): String =
    Paths.get(tablePath).toAbsolutePath.normalize.toString

  /** (key cols, file) entries for the given table-relative files, with
    * the shard column attached. `_metadata.file_path` is resolved at
    * scan time (no extra job) and relativized against the table root.
    */
  private def entriesFor(spark: SparkSession, tablePath: String,
      rel: Seq[String], keys: Seq[String], nShards: Int): DataFrame = {
    val base = absBase(tablePath)
    val dfs = rel.groupBy(_.takeWhile(_ != '/')).values.map { fs =>
      val files = fs.map(f => s"$base/$f").toSeq
      UnitSchema.read(spark, Paths.get(files.head).getParent.toString, files)
        .select((keys.map(col) :+ col("_metadata.file_path").as("__fp")): _*)
    }
    // relativize to the manifest's `c=N/part-*.parquet` form by suffix —
    // scheme-independent (file: vs file:///) and matches BloomTable's
    // commit-dir layout exactly
    dfs.reduce(_.unionByName(_))
      .withColumn("file", regexp_extract(col("__fp"), "c=\\d+/[^/]+$", 0))
      .drop("__fp")
      .withColumn("__s", pmod(hash(keys.map(col): _*), lit(nShards)))
  }

  /** Build the index from the table's current manifest: one scan of
    * the key columns (column-pruned — payload never read), one
    * hash-sharded write. O(records) once; [[refresh]] keeps it current
    * incrementally from then on.
    */
  def build(spark: SparkSession, tablePath: String, numShards: Int = 16): Unit =
    // same single-writer discipline as the table formats this indexes
    // (BloomTable/BucketTable/MorTable all mutate under the table
    // lock): two concurrent builds/refreshes would compute the same
    // v=next per shard and moveShards' debris reclaim could delete the
    // other writer's just-published shard dir after the manifest
    // references it
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs)(
      buildLocked(spark, tablePath, numShards))

  private def buildLocked(spark: SparkSession, tablePath: String,
      numShards: Int): Unit = {
    require(!exists(tablePath), s"record index already exists at $tablePath")
    val p = BloomTable.props(tablePath)
    val live = BloomTable.manifest(tablePath)
    require(live.nonEmpty,
      s"no committed data to index at $tablePath (upsert a batch first)")
    Files.createDirectories(rliDir(tablePath))
    Files.writeString(propsPath(tablePath), s"shards=$numShards\n",
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    val entries = entriesFor(spark, tablePath, live, p.keys, numShards)
    val staging = rliDir(tablePath).resolve(s".build${System.nanoTime()}")
    // one task per shard → one file per shard dir (the index stays
    // O(shards) files however parallel the scan was)
    UnitSchema.write(entries.repartition(col("__s")), staging.toString,
      partitionBy = Seq("__s"))
    val built = moveShards(tablePath, staging, shardVersionsOrEmpty(tablePath))
    writeShardManifest(tablePath, built)
    writeCovered(tablePath, live.toSet)
  }

  private def shardVersionsOrEmpty(tablePath: String): Map[Int, Long] =
    if (Files.exists(manifestPath(tablePath))) shardVersions(tablePath)
    else Map.empty

  /** Move `__s=K` partition dirs out of a staging write into versioned
    * shard dirs (`s=K/v=next`), returning the updated shard manifest.
    */
  private def moveShards(tablePath: String, staging: Path,
      current: Map[Int, Long]): Map[Int, Long] = {
    val parts = {
      val s = Files.list(staging)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("__s="))
        .map(p => (p.getFileName.toString.drop(4).toInt, p)).toSeq
      finally s.close()
    }
    // each shard dir is read as a unit of its own
    UnitSchema.inherit(staging.toString, parts.map(_._2.toString))
    val moved = parts.map { case (shard, dir) =>
      val next = current.getOrElse(shard, -1L) + 1
      val dst = rliDir(tablePath).resolve(s"s=$shard").resolve(s"v=$next")
      Files.createDirectories(dst.getParent)
      // reclaim debris from a writer that died between this move and
      // the manifest write: the manifest never referenced v=next, so
      // the leftover dir was invisible to readers and the retry owns it
      // (same lazy rollback as BucketTable.rollbackOrphan)
      deleteRecursively(dst)
      Files.move(dir, dst, StandardCopyOption.ATOMIC_MOVE)
      shard -> next
    }.toMap
    deleteRecursively(staging)
    current ++ moved
  }

  private def deleteRecursively(p: Path): Unit = FsUtil.deleteRecursively(p)

  /** Fold the table's latest commits into the index: scan ONLY the
    * data files the index has not seen, rewrite ONLY the shards those
    * records hash into (each rewrite also drops entries for retired
    * files and for keys the new entries supersede). `staleKeys`
    * optionally carries keys whose entries must be purged even though
    * no new file mentions them — the delete path's keys; without it a
    * deleted key's entry goes stale and [[lookup]] self-heals via
    * fallback. Returns the shard ids rewritten.
    */
  def refresh(spark: SparkSession, tablePath: String,
      staleKeys: Option[DataFrame] = None): Seq[Int] =
    FsLock.withTableLock(tablePath, FsLock.QueueWaitMs)(
      refreshLocked(spark, tablePath, staleKeys))

  /** Refresh batches covering more than this many NEW data files lose
    * the broadcast hint on the anti-join sides (plain shuffle join
    * instead): a caller that refreshes after a table-wide upsert would
    * otherwise ship the whole key set through the driver and blow the
    * broadcast memory limit mid-flight. File count is the driver-side
    * proxy for batch size — known for free from the manifest diff
    * (rows per file are bounded by the writer's file budget), where a
    * count() would cost an extra job per refresh on the hot trickle
    * path. Past this size a rebuild is usually cheaper — logged, not
    * forced.
    */
  private val BroadcastFileLimit = 64

  private def maybeBroadcast(df: DataFrame, files: Int): DataFrame =
    if (files <= BroadcastFileLimit) broadcast(df) else df

  private def refreshLocked(spark: SparkSession, tablePath: String,
      staleKeys: Option[DataFrame]): Seq[Int] = {
    val p = BloomTable.props(tablePath)
    val nShards = shards(tablePath)
    val live = BloomTable.manifest(tablePath).toSet
    val covered = coveredFiles(tablePath)
    val newFiles = (live -- covered).toSeq.sorted
    if (newFiles.isEmpty && staleKeys.isEmpty) {
      if (covered != live) writeCovered(tablePath, live)
      return Seq.empty
    }
    // cache, not checkpoint: the first action (the `affected` collect)
    // fills it and the shard rewrite reuses it — one fewer job than an
    // eager materialization, same single scan of the new files
    val newEntries =
      if (newFiles.isEmpty) None
      else Some(entriesFor(spark, tablePath, newFiles, p.keys, nShards).cache())
    val staleSharded = staleKeys.map(
      _.select(p.keys.map(col): _*).distinct()
        .withColumn("__s", pmod(hash(p.keys.map(col): _*), lit(nShards)))
        .cache())
    val affected = (newEntries.toSeq ++ staleSharded.toSeq)
      .map(_.select("__s").distinct())
      .reduce(_.union(_)).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (affected.isEmpty) {
      writeCovered(tablePath, live)
      newEntries.foreach(_.unpersist(blocking = false))
      staleSharded.foreach(_.unpersist(blocking = false))
      return Seq.empty
    }
    val versions = shardVersions(tablePath)
    val liveRel = live.toSeq.sorted
    // rebuild every affected shard in ONE Spark job: union the affected
    // shards' current entries (shard recovered from the dir), drop
    // retired-file / superseded / purged entries with GLOBAL anti-joins
    // (a key appears only in its own shard on both sides, so global ≡
    // per-shard), append the fresh entries, and hash-partition the
    // write back out. A per-shard loop of little jobs is the same I/O
    // with O(shards) scheduler round-trips on top — measured 3-4x the
    // wall time of this single-job shape at 16 shards.
    val cur = affected.flatMap { shard =>
      versions.get(shard).map(v =>
        UnitSchema.read(spark,
          rliDir(tablePath).resolve(s"s=$shard").resolve(s"v=$v").toString)
          .withColumn("__s", lit(shard)))
    }.reduceOption(_.unionByName(_))
    if (newFiles.size > BroadcastFileLimit)
      logger.warn(s"RecordIndex.refresh at $tablePath folding " +
        s"${newFiles.size} new files (covered: ${covered.size}) — past " +
        "the broadcast threshold; a full rebuild is usually cheaper at " +
        "this batch size")
    val keep = cur.map { c =>
      // a refresh batch is usually small relative to the index —
      // broadcast the anti-join sides (under the size guard) so the
      // shard rewrite is one map-side pass over the kept entries, no
      // shuffle exchanges inside the write job. "file is live" plans
      // through BloomTable.filesIn: a literal isin under 64 paths, a
      // broadcast semi-join past that (never a giant In-list)
      val liveOnly = BloomTable.filesIn(spark, c, liveRel, keep = true)
      val minusNew = newEntries match {
        case Some(f) => liveOnly.join(
          maybeBroadcast(f.select(p.keys.map(col): _*), newFiles.size),
          p.keys, "left_anti")
        case None => liveOnly
      }
      staleSharded match {
        case Some(s) => minusNew.join(
          // stale-key purges ride the delete path's small key frames;
          // same file-count proxy keeps the guard job-free
          maybeBroadcast(s.select(p.keys.map(col): _*), newFiles.size),
          p.keys, "left_anti")
        case None => minusNew
      }
    }
    val merged = (keep.toSeq ++ newEntries.toSeq)
      .reduceOption(_.unionByName(_))
    val moved = merged match {
      case None => Map.empty[Int, Long]
      case Some(m) =>
        val staging = rliDir(tablePath).resolve(s".refresh${System.nanoTime()}")
        UnitSchema.write(m.repartition(col("__s")), staging.toString,
          partitionBy = Seq("__s"))
        moveShards(tablePath, staging, versions)
          .filter { case (s, v) => affected.contains(s) && !versions.get(s).contains(v) }
    }
    // an affected shard absent from the staged write emptied out —
    // drop it from the manifest entirely (absent shard = no entries)
    val emptied = affected.toSet -- moved.keySet
    writeShardManifest(tablePath, (versions ++ moved) -- emptied)
    writeCovered(tablePath, live)
    // retire superseded shard versions and emptied shards (index clean)
    moved.foreach { case (shard, next) =>
      versions.get(shard).filter(_ < next).foreach { old =>
        deleteRecursively(rliDir(tablePath).resolve(s"s=$shard").resolve(s"v=$old"))
      }
    }
    emptied.foreach(s =>
      deleteRecursively(rliDir(tablePath).resolve(s"s=$s")))
    newEntries.foreach(_.unpersist(blocking = false))
    staleSharded.foreach(_.unpersist(blocking = false))
    affected
  }

  /** Point lookup through the record index: hash the key to ONE shard,
    * read it, resolve the ONE data file, read it, filter exact. When
    * the index is stale for this key (entry's file retired, or no
    * entry while the covered-file set lags the manifest), falls back
    * to [[BloomTable.lookup]] — correct under any staleness, fast when
    * fresh. Returns the matching rows (empty when the key is absent).
    */
  def lookup(spark: SparkSession, tablePath: String,
      keyValues: Seq[Any]): DataFrame = {
    val p = BloomTable.props(tablePath)
    require(keyValues.length == p.keys.length,
      s"expected ${p.keys.length} key values (${p.keys.mkString(",")})")
    val nShards = shards(tablePath)
    val schema = BloomTable.read(spark, tablePath).schema
    val probe = Layout.literalRow(spark,
      p.keys.map(k => k -> schema(k).dataType), keyValues)
    // the same hash expression the writers shard by — consistent by
    // construction, evaluated on the driver
    val shard = probe
      .select(pmod(hash(p.keys.map(col): _*), lit(nShards)).as("__s"))
      .head().getInt(0)
    val versions = shardVersions(tablePath)
    val live = BloomTable.manifest(tablePath).toSet
    val fresh = coveredFiles(tablePath) == live
    val entry = versions.get(shard).toSeq.flatMap { v =>
      p.keys.zip(keyValues).foldLeft(
        UnitSchema.read(spark,
          rliDir(tablePath).resolve(s"s=$shard").resolve(s"v=$v").toString)) {
        case (df, (k, kv)) => df.filter(col(k) === lit(kv).cast(schema(k).dataType))
      }.select("file").collect().map(_.getString(0)).toSeq
    }
    entry match {
      case Seq(file) if live(file) =>
        p.keys.zip(keyValues).foldLeft(
          UnitSchema.read(spark, Paths.get(s"${absBase(tablePath)}/$file")
            .getParent.toString, Seq(s"${absBase(tablePath)}/$file"))) {
          case (df, (k, v)) => df.filter(col(k) === lit(v).cast(schema(k).dataType))
        }
      case Seq() if fresh =>
        // fresh index, no entry → the key is provably absent
        BloomTable.read(spark, tablePath).limit(0)
      case _ =>
        // stale entry (retired file), multiple entries (crash debris),
        // or lagging coverage: self-heal through the bloom path
        BloomTable.lookup(spark, tablePath, keyValues)
    }
  }
}
