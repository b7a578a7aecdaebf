package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

/** Secondary index over a [[BucketTable]] primary — point lookups by a
  * NON-key column (Hudi 1.0's secondary index / record-level index
  * family; the reference's Hudi writer maintains its record index the
  * same way: an index table updated transactionally with each commit).
  *
  * The index is itself a BucketTable whose entries are
  * `(secondary cols…, primary key cols…, __live, __commit)`, keyed on
  * (secondary ++ primary key) and BUCKETED BY the secondary prefix
  * ([[BucketTable]]'s `bucketBy`), so:
  *
  *   - lookup by secondary value reads ONE index bucket → the matching
  *     primary keys, then ONE primary bucket per distinct key — at any
  *     table size the scan is O(buckets touched), never O(table);
  *   - maintenance is an O(batch) index upsert riding each primary
  *     upsert: entries whose key's secondary value changed are
  *     tombstoned (`__live = false`) and re-pointed, so a stale
  *     mapping can never serve a row whose current version no longer
  *     matches (the staleness hazard that makes naive secondary
  *     indexes wrong).
  *
  * `__commit` (monotone per maintenance pass) is the index's
  * precombine: the latest verdict per (secondary, key) wins, so
  * flip-flopping values (A→B→A) converge correctly.
  */
object SecondaryIndex {

  private val Live = "__live"
  private val Commit = "__commit"

  /** The liveness column of an index delta (see [[applyDelta]]). */
  private[etl] val LiveCol = Live

  // ---- covered-head bookkeeping (crash-loud serving) -----------------
  //
  // Every reconcile runs AFTER the primary's commit point (an index
  // ahead of the commit would serve uncommitted rows), so a writer that
  // crashes in between leaves the index missing that commit's mappings.
  // A stale mapping only FALSE-POSITIVES (the retained SQL filter
  // re-checks served rows), but a MISSING mapping under-serves
  // SILENTLY — the one failure mode this engine's loudness discipline
  // otherwise forbids (CdcLog.changes, changedSince floors, the
  // fold-to-live head guards all refuse rather than under-deliver).
  //
  // Fix: the index records which primary commits its mappings cover, in
  // a sibling state file `<index>_phead` holding the highest CONTIGUOUS
  // covered commit plus any out-of-order completions above it (the
  // partitioned layout's OCC front door admits disjoint writers whose
  // reconciles can finish out of commit order — a plain max-ratchet
  // would claim coverage of a commit whose reconcile hasn't run).
  // Serve time compares the covered head to the primary's current
  // commit head; a mismatch (crash-torn maintenance, or a programmatic
  // writer that bypassed it) triggers a reconcile-on-read under the
  // `_maint` lock — a full mapping diff whose index WRITE is
  // O(discrepancy) — so an index-served read never silently misses.

  // ---- engine binding files (shared by every layout) -----------------
  //
  // A layout's `_secidx` file lists its bound indexes, one per line:
  // `col1,col2 <indexPath>`. Multi-line so a table can bind SEVERAL
  // secondary indexes (one per query pattern — Hudi allows the same);
  // every mutation primitive iterates the list.

  private[etl] def readBindings(p: java.nio.file.Path): Seq[(Seq[String], String)] =
    if (!Files.exists(p)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(p).asScala.filter(_.trim.nonEmpty).map { l =>
        val i = l.indexOf(' ')
        (l.substring(0, i).split(',').toSeq, l.substring(i + 1))
      }.toSeq
    }

  private def writeBindings(p: java.nio.file.Path,
      entries: Seq[(Seq[String], String)]): Unit =
    if (entries.isEmpty) { Files.deleteIfExists(p); () }
    else {
      val tmp = p.resolveSibling(s"${p.getFileName}.tmp${System.nanoTime()}")
      Files.writeString(tmp,
        entries.map { case (cols, idx) => s"${cols.mkString(",")} $idx" }
          .mkString("", "\n", "\n"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      ()
    }

  /** Add (or replace, keyed by index path) one binding line. */
  private[etl] def addBinding(p: java.nio.file.Path, secCols: Seq[String],
      indexPath: String): Unit =
    writeBindings(p,
      readBindings(p).filterNot(_._2 == indexPath) :+ (secCols, indexPath))

  /** Remove the binding for `indexPath` (others stay). */
  private[etl] def removeBinding(p: java.nio.file.Path,
      indexPath: String): Unit =
    writeBindings(p, readBindings(p).filterNot(_._2 == indexPath))

  private def headStatePath(indexPath: String) =
    Paths.get(s"${indexPath}_phead")

  /** (highest contiguous covered commit, out-of-order completions). */
  private def coveredState(indexPath: String): (Long, Set[Long]) = {
    val p = headStatePath(indexPath)
    if (!Files.exists(p)) (-1L, Set.empty)
    else {
      val lines = Files.readAllLines(p)
      val h = lines.get(0).trim.toLong
      val done =
        if (lines.size < 2) Set.empty[Long]
        else lines.get(1).split(',').filter(_.nonEmpty).map(_.toLong).toSet
      (h, done)
    }
  }

  private def writeCoveredState(indexPath: String, h: Long,
      done: Set[Long]): Unit = {
    val tmp = Paths.get(s"${indexPath}_phead.tmp${System.nanoTime()}")
    Files.writeString(tmp, s"$h\n${done.toSeq.sorted.mkString(",")}\n",
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, headStatePath(indexPath), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The highest primary commit whose mappings the index is KNOWN to
    * carry (every commit at or below it reconciled). -1 on indexes
    * created before head recording — the serve-time check treats that
    * as a mismatch, heals once, and the file exists from then on.
    */
  def coveredHead(indexPath: String): Long = coveredState(indexPath)._1

  /** The maintenance-serialization lock scope (a SIBLING dir — FsLock
    * is non-reentrant and the index's own lock is taken by the inner
    * BucketTable upserts).
    */
  private def maintScope(indexPath: String): String = s"${indexPath}_maint"

  /** Run `body` under the index's maintenance lock. */
  def withMaintLock[T](indexPath: String)(body: => T): T =
    FsLock.withTableLock(maintScope(indexPath), FsLock.QueueWaitMs)(body)

  /** Record that primary commit `commit`'s mappings are reconciled.
    * The head only advances through a CONTIGUOUS prefix; completions
    * above a gap park in the done-set until the gap closes — so a
    * crashed writer's missing reconcile keeps the head short of the
    * primary head and the serve-time check stays loud. Locked.
    */
  def markCovered(indexPath: String, commit: Long): Unit =
    withMaintLock(indexPath)(markCoveredLocked(indexPath, commit))

  /** [[markCovered]] body — caller holds the `_maint` lock. */
  def markCoveredLocked(indexPath: String, commit: Long): Unit = {
    val (h0, done0) = coveredState(indexPath)
    if (commit > h0) {
      var h = h0
      var done = done0 + commit
      while (done(h + 1)) { h += 1; done -= h }
      writeCoveredState(indexPath, h, done)
    }
  }

  /** Hard-set the covered head to `h` (index bootstrap / rebuild /
    * heal — the index state was just derived from a primary snapshot
    * at that head, which subsumes every earlier completion). Locked.
    */
  def setCoveredHead(indexPath: String, h: Long): Unit =
    withMaintLock(indexPath)(setCoveredHeadLocked(indexPath, h))

  def setCoveredHeadLocked(indexPath: String, h: Long): Unit = {
    val (_, done) = coveredState(indexPath)
    writeCoveredState(indexPath, h, done.filter(_ > h))
  }

  /** The primary's current commit head in the layout's own version
    * domain (bucket/bloom/partitioned commit numbers; MOR change seqs —
    * the only MOR events that change mappings are seq-consuming).
    */
  private def primaryHead(kind: String, primaryPath: String): Long =
    kind match {
      case "bucket" => BucketTable.latestCommit(primaryPath)
      case "bloom" => BloomTable.latestCommit(primaryPath)
      case "partitioned" => PartitionedTable.latestCommit(primaryPath)
      case "mor" => MorTable.changeHead(primaryPath)
      case "timeline" => Timeline.latestVersion(primaryPath).getOrElse(-1L)
      case other => throw new IllegalArgumentException(
        s"no secondary-index binding for layout '$other'")
    }

  /** Serve-time freshness gate: every index-served read (equality
    * SELECT, index-composed DELETE victims, purge resolution) calls
    * this first. Cost on the hot path is ONE metadata read per side
    * (the primary's commit head, the index's covered head). On a
    * mismatch — a writer crashed between its primary commit and its
    * reconcile, or a programmatic writer bypassed maintenance — the
    * index reconciles ON READ under the `_maint` lock (which also
    * drains any in-flight reconcile first, so racing a LIVE writer's
    * post-swing window converges instead of failing spuriously): a
    * full mapping diff against the primary snapshot whose index write
    * is O(discrepancy). An index-served read can therefore never
    * silently miss rows — the discipline CdcLog.changes and the
    * commit-log fold guards already enforce on their feeds.
    */
  def ensureCurrent(spark: SparkSession, kind: String, primaryPath: String,
      indexPath: String): Unit = MaintProf.timed("idx.ensureCurrent") {
    if (coveredHead(indexPath) == primaryHead(kind, primaryPath)) return
    withMaintLock(indexPath) {
      // re-read under the lock: a live writer's reconcile (serialized
      // on this same lock) may have closed the gap while we waited
      val ph = primaryHead(kind, primaryPath)
      if (coveredHead(indexPath) != ph)
        MaintProf.timed("idx.healLocked")(
          healLocked(spark, kind, primaryPath, indexPath))
    }
  }

  /** Reconcile-on-read — caller holds the `_maint` lock. Re-derives
    * the index delta from the live primary snapshot: mappings the
    * index serves that the primary no longer carries flip dead,
    * mappings the primary carries that the index lacks upsert live
    * (for a covering index every primary row re-asserts, payload
    * included). The primary head is read BEFORE its content, so a
    * commit landing mid-heal is never claimed covered — its own
    * reconcile (or the next serve) picks it up.
    */
  private def healLocked(spark: SparkSession, kind: String,
      primaryPath: String, indexPath: String): Unit = {
    val h = primaryHead(kind, primaryPath)
    val delta = healDelta(spark, kind, primaryPath, indexPath)
    // the emptiness gate rides the delta's checkpoint as an observed
    // count — no separate isEmpty job (guide §2.4)
    val (staged, stagedN) = Fuse.checkpointCounted(delta)
    if (stagedN > 0L) {
      val commit = BucketTable.manifest(indexPath).values.maxOption
        .getOrElse(-1L) + 1
      BucketTable.upsertInto(spark, indexPath,
        staged.withColumn(Commit, lit(commit)))
    }
    setCoveredHeadLocked(indexPath, h)
  }

  private def healDelta(spark: SparkSession, kind: String,
      primaryPath: String, indexPath: String): DataFrame = {
    // the index's own key columns ARE the mapping — (sec ++ keys) for a
    // secondary index, (keys ++ partitionCols) for a partitioned RLI
    val mapColNames = BucketTable.props(indexPath).keys
    val mapCols = mapColNames.map(col)
    kind match {
      case "mor" | "timeline" =>
        // COVERING heal in ONE aggregation: tombstone vanished
        // mappings, re-assert only rows whose FULL payload differs —
        // O(discrepancy) index write, O(snapshot) scan (inherent: the
        // primary has no smaller delta feed here). Align first — a
        // column the snapshot gained pads NULL on the index side, so
        // every row carrying a real value there counts as changed.
        // (Was: a mapping-level sideDiff plus — for mor — a full
        // re-assert of EVERY primary row / — for timeline — a second
        // payload-level sideDiff: two unions, two aggregations, and a
        // checkpointed primary consumed twice. One union + one
        // aggregation consuming the primary once, guide §2.3/§2.4;
        // the mor index write drops from O(table) to O(discrepancy).)
        val prim = (kind match {
          case "mor" => MorTable.readSnapshot(spark, primaryPath)
          case _ => Timeline.read(spark, primaryPath)
        })
        val idxLive = BucketTable.read(spark, indexPath)
          .filter(col(Live)).drop(Live, Commit)
        coveringDelta(prim, SchemaShim.unionByName(prim.limit(0), idxLive),
          mapColNames)
      case _ =>
        val prim = (kind match {
          case "partitioned" => PartitionedTable.read(spark, primaryPath)
          case "bloom" => BloomTable.read(spark, primaryPath)
          case _ => BucketTable.read(spark, primaryPath)
        }).select(mapCols: _*)
        val idxLive = BucketTable.read(spark, indexPath)
          .filter(col(Live)).select(mapCols: _*)
        // O(discrepancy) index write: only missing / stale mappings
        // move — both except sides in one aggregation (each side
        // consumed once — no checkpoint needed, the delta's own
        // checkpoint below materializes the result)
        sideDiff(idxLive, prim)
    }
  }

  /** Bootstrap the index from the primary's current snapshot: one scan
    * of the primary, every live row contributing `(sec, key, live)`.
    */
  def create(spark: SparkSession, primaryPath: String, indexPath: String,
      secCols: Seq[String], numBuckets: Int = 16): Unit = {
    val p = BucketTable.props(primaryPath)
    require(secCols.nonEmpty && secCols.forall(!p.keys.contains(_)),
      s"secondary columns ($secCols) must not overlap the primary key (${p.keys})")
    // head read BEFORE the snapshot scan: a commit landing mid-build is
    // not claimed covered — its own reconcile (or serve-time heal)
    // picks it up
    val h = BucketTable.latestCommit(primaryPath)
    val entries = BucketTable.read(spark, primaryPath)
      .select((secCols ++ p.keys).map(col): _*)
      .withColumn(Live, lit(true))
      .withColumn(Commit, lit(0L))
    BucketTable.create(entries, indexPath,
      keys = secCols ++ p.keys, precombine = Commit,
      numBuckets = numBuckets, bucketBy = secCols)
    BucketTable.bindSecondaryIndex(primaryPath, secCols, indexPath)
    setCoveredHead(indexPath, h)
  }

  /** Upsert `batch` into the primary; the engine binding ([[create]]
    * wrote it) maintains the index inside the same call — one tombstone
    * per mapping the merge invalidated, one live entry per current
    * mapping, an O(batch) delta, exactly what Hudi's metadata-table
    * writer commits alongside each instant. Kept as the historical
    * programmatic front door; since the binding moved engine-level it
    * simply asserts the wiring and delegates.
    */
  def upsertThrough(spark: SparkSession, primaryPath: String,
      indexPath: String, batch: DataFrame): Unit = {
    require(BucketTable.boundSecondaryIndexes(primaryPath)
        .exists(_._2 == indexPath),
      s"$primaryPath does not bind the secondary index at $indexPath — " +
        "create it with SecondaryIndex.create first")
    BucketTable.upsertInto(spark, primaryPath, batch)
    ()
  }

  /** Point lookup by secondary value: one index-bucket read resolves
    * the live primary keys, one [[BucketTable.lookupMany]] fetches
    * their current rows. `secValues` covers the index's secondary
    * columns in order. Results are exactly the primary rows whose
    * CURRENT version carries the secondary value — `SecondaryIndexSpec`
    * pins the staleness cases, `p_sec_lookup`'s oracle replays the
    * whole construction.
    */
  def lookup(spark: SparkSession, primaryPath: String, indexPath: String,
      secValues: Seq[Any]): DataFrame =
    BucketTable.lookupMany(spark, primaryPath,
      lookupKeys(spark, primaryPath, indexPath, secValues))

  /** The index half of [[lookup]]: live primary keys currently mapped
    * to the secondary value — one index-bucket read, no primary-table
    * access. The SQL DML route uses this to turn an equality predicate
    * on indexed columns into a key set without any table scan.
    */
  def lookupKeys(spark: SparkSession, primaryPath: String, indexPath: String,
      secValues: Seq[Any]): DataFrame = {
    val p = BucketTable.props(primaryPath)
    BucketTable.lookup(spark, indexPath, secValues)
      .filter(col(Live))
      .select(p.keys.map(col): _*)
  }

  /** Multi-value lookup — the `sec IN (a, b, ...)` / `sec IS NULL`
    * serving path: one index-bucket probe per combination (N bounded by
    * the caller, the same `InListMax` discipline as
    * [[BloomTable.filesIn]]), the resolved keys unioned, then ONE
    * multi-bucket primary fetch. NULL combinations are first-class:
    * the index stores NULL secondary values (xxhash64 hashes them to a
    * deterministic bucket) and [[BucketTable.lookup]] probes them
    * null-safely, so `IS NULL` is an indexed point read, not a scan.
    */
  def lookupMulti(spark: SparkSession, primaryPath: String,
      indexPath: String, combos: Seq[Seq[Any]]): DataFrame = {
    val p = BucketTable.props(primaryPath)
    val keys = BucketTable.lookupCombos(spark, indexPath, combos)
      .filter(col(Live)).select(p.keys.map(col): _*).distinct()
    BucketTable.lookupMany(spark, primaryPath, keys)
  }

  /** Commit the delta between the pre/post mapping states of a
    * commit's touched region: mappings present before and gone after
    * flip dead, mappings present after and absent before upsert live —
    * one O(CHANGED mappings) index write, NOT O(region). Mappings in
    * both sides are untouched: the covered-head discipline guarantees
    * the index carried them live before this commit (a crash-torn gap
    * heals on serve), so re-asserting them would only re-write
    * unchanged rows — at a region of millions with a thousand changed
    * mappings, the difference between a thousand-row index commit and
    * a region-sized one.
    */
  def reconcile(spark: SparkSession, indexPath: String,
      pre: DataFrame, post: DataFrame): Unit = {
    // single materialization: the index upsert's own checkpoint
    // computes the diff exactly once (pre/post are checkpointed by
    // the caller, so no lineage rides in); an empty delta routes to
    // zero touched buckets and upsertInto commits nothing
    applyDelta(spark, indexPath, sideDiff(pre, post))
  }

  /** Commit a mapping delta — `(sec cols…, key cols…, [[LiveCol]])`
    * rows, dead mappings false — as ONE index upsert: the routed
    * checkpoint plus the touched buckets' write.
    */
  def applyDelta(spark: SparkSession, indexPath: String,
      delta: DataFrame): Unit = {
    val commit = BucketTable.manifest(indexPath).values.maxOption.getOrElse(-1L) + 1
    MaintProf.timed("idx.reconcile.upsert")(
      BucketTable.upsertInto(spark, indexPath,
        delta.withColumn(Commit, lit(commit))))
    ()
  }

  /** The two `except`s of a reconcile delta — distinct rows on exactly
    * one side, `Live` false for pre-only (dead mappings) and true for
    * post-only (live) — computed as ONE aggregation over one union:
    * one Exchange where the except pair costs two distinct-aggregates
    * plus an anti-join EACH (guide §2.3/§2.4 — same result set, fewer
    * shuffles, and the delta frame is consumed once by the index
    * upsert's own checkpoint). Set semantics match `except` exactly:
    * grouping deduplicates, and nulls/NaN group the way except
    * compares them. Both sides must share pre's column set.
    */
  /** One-aggregation covering-index heal delta over `(primary
    * snapshot, aligned live index)`: a tombstone (`Live` false,
    * payload NULL) per mapping the index serves that the primary no
    * longer carries, a full-payload re-assert (`Live` true) per
    * primary row the index lacks or serves with a stale payload, and
    * NOTHING for rows the index already serves correctly. Mappings
    * are unique per side (primary record keys are unique — asserted
    * at bootstrap — and the index serves one live row per mapping),
    * so `max(when(side, struct(payload)))` IS that side's row, and
    * `<=>` over the payload structs compares with exactly the
    * null/NaN semantics the previous groupBy-dedup diff used.
    * `idxAligned` must carry the primary's column set (pad with
    * `SchemaShim.unionByName(prim.limit(0), idxLive)`).
    */
  private def coveringDelta(prim: DataFrame, idxAligned: DataFrame,
      mapColNames: Seq[String]): DataFrame = {
    val cols = prim.columns.toSeq
    val types = prim.schema.fields.map(f => f.name -> f.dataType).toMap
    val payload = struct(cols.map(col): _*)
    val side = "__side"
    idxAligned.select(cols.map(col): _*).withColumn(side, lit(0))
      .unionByName(prim.withColumn(side, lit(1)))
      .groupBy(mapColNames.map(col): _*)
      // collect_list over ≤1 non-null row per side: hash-aggregable
      // (ObjectHashAggregate) where max(struct)/first(struct) would
      // force a SortAggregate with a full sort of the union by the
      // mapping columns
      .agg(collect_list(when(col(side) === 0, payload)).as("__l0"),
        collect_list(when(col(side) === 1, payload)).as("__l1"))
      .withColumn("__p0", try_element_at(col("__l0"), lit(1)))
      .withColumn("__p1", try_element_at(col("__l1"), lit(1)))
      .filter(col("__p0").isNull || col("__p1").isNull ||
        !(col("__p0") <=> col("__p1")))
      .select(cols.map { c =>
        if (mapColNames.contains(c)) col(c)
        else when(col("__p1").isNotNull, col("__p1").getField(c))
          .otherwise(lit(null).cast(types(c))).as(c)
      } :+ col("__p1").isNotNull.as(Live): _*)
  }

  private[etl] def sideDiff(pre: DataFrame, post: DataFrame): DataFrame = {
    val side = "__side"
    val cols = pre.columns.toSeq
    pre.withColumn(side, lit(0))
      .unionByName(post.select(cols.map(col): _*).withColumn(side, lit(1)))
      .groupBy(cols.map(col): _*)
      .agg(min(side).as("__mn"), max(side).as("__mx"))
      .filter(col("__mn") === col("__mx"))
      .withColumn(Live, col("__mx") === 1)
      .drop("__mn", "__mx")
  }


  // ---- bloom-layout variant (mapping index over keys) ----------------
  //
  // A bloom primary serves a keyed fetch at O(candidate files)
  // ([[BloomTable.lookupMany]] — range ∩ bloom tagging), so like the
  // bucket variant its index stores only (sec, key) MAPPINGS: an
  // equality SELECT probes one index bucket for the keys, then one
  // candidate-file fetch reads the rows — never a manifest-wide scan.
  // Maintenance is ENGINE-level (a `_secidx` table-dir file, the same
  // binding every other layout uses): every BloomTable mutation
  // primitive reconciles the (sec, key) delta of its touched region.

  /** Bootstrap a mapping index from the bloom primary's snapshot and
    * bind it for engine-level maintenance.
    */
  def createBloom(spark: SparkSession, primaryPath: String,
      indexPath: String, secCols: Seq[String], numBuckets: Int = 16): Unit = {
    val p = BloomTable.props(primaryPath)
    require(secCols.nonEmpty && secCols.forall(!p.keys.contains(_)),
      s"secondary columns ($secCols) must not overlap the primary key (${p.keys})")
    val h = BloomTable.latestCommit(primaryPath) // before the scan
    val entries = BloomTable.read(spark, primaryPath)
      .select((secCols ++ p.keys).map(col): _*)
      .withColumn(Live, lit(true))
      .withColumn(Commit, lit(0L))
    BucketTable.create(entries, indexPath,
      keys = secCols ++ p.keys, precombine = Commit,
      numBuckets = numBuckets, bucketBy = secCols)
    BloomTable.bindSecondaryIndex(primaryPath, secCols, indexPath)
    setCoveredHead(indexPath, h)
  }

  /** Live primary keys currently mapped to the secondary value — one
    * index-bucket read, no primary access (the index-composed DML
    * route's victim resolution on a bloom primary).
    */
  def lookupBloomKeys(spark: SparkSession, primaryPath: String,
      indexPath: String, secValues: Seq[Any]): DataFrame = {
    val p = BloomTable.props(primaryPath)
    BucketTable.lookup(spark, indexPath, secValues)
      .filter(col(Live))
      .select(p.keys.map(col): _*)
  }

  /** Serve `sec = v` / `IN` / `IS NULL` combinations against a bloom
    * primary: one index-bucket probe per combination resolves the live
    * keys, then ONE [[BloomTable.lookupMany]] reads only their
    * candidate files — no table scan at any size.
    */
  def lookupMultiBloom(spark: SparkSession, primaryPath: String,
      indexPath: String, combos: Seq[Seq[Any]]): DataFrame = {
    val p = BloomTable.props(primaryPath)
    // lookupMany dedups the keys inside its probe checkpoint
    val keys = BucketTable.lookupCombos(spark, indexPath, combos)
      .filter(col(Live)).select(p.keys.map(col): _*)
    BloomTable.lookupMany(spark, primaryPath, keys)
  }

  // ---- COVERING variant (MOR primaries) ------------------------------
  //
  // A bucket primary serves an index hit with an O(probed buckets)
  // keyed fetch, so its index stores only (sec, key) mappings. A MOR
  // primary is ONE file group — any keyed fetch is a full merge scan —
  // so its secondary index is COVERING: entries carry the whole row,
  // and an equality SELECT is served ENTIRELY from the index's probed
  // bucket, zero primary access (the sorted-projection trade every
  // database covering index makes; Hudi 1.0 reaches the same end via
  // secondary index → RLI → file-group pruning, which needs the
  // multi-file-group layouts our bucket/partitioned tables already
  // serve). Maintenance rides the ENGINE write path
  // ([[MorTable.appendFlagged]]'s keyed probe, shared with the cdc
  // image writer) — programmatic and SQL writes alike keep it current.

  /** Bootstrap a covering index from the MOR primary's snapshot. */
  def createMorCovering(spark: SparkSession, primaryPath: String,
      indexPath: String, secCols: Seq[String], numBuckets: Int = 16): Unit = {
    val p = MorTable.props(primaryPath)
    require(secCols.nonEmpty && secCols.forall(!p.keys.contains(_)),
      s"secondary columns ($secCols) must not overlap the primary key (${p.keys})")
    val h = MorTable.changeHead(primaryPath) // before the snapshot scan
    val entries = MorTable.readSnapshot(spark, primaryPath)
      .withColumn(Live, lit(true))
      .withColumn(Commit, lit(0L))
    BucketTable.create(entries, indexPath,
      keys = secCols ++ p.keys, precombine = Commit,
      numBuckets = numBuckets, bucketBy = secCols)
    MorTable.bindSecondaryIndex(primaryPath, secCols, indexPath)
    setCoveredHead(indexPath, h)
  }

  /** Commit the delta between the pre/post FULL-ROW states of one
    * commit's touched keys: mappings that vanished tombstone (payload
    * nulled — a dead entry is never served), every CHANGED post row
    * upserts live (the full-row except catches moved mappings AND
    * payload-only updates; rows untouched by the commit are already
    * live in a covered-head-consistent index and write nothing).
    */
  def reconcileCovering(spark: SparkSession, indexPath: String,
      pre: DataFrame, post: DataFrame, secCols: Seq[String],
      keys: Seq[String]): Unit = {
    val mapCols = (secCols ++ keys).map(col)
    // mapping-level dead side and full-row live side are different
    // granularities, so each is its own one-pass sideDiff (one
    // aggregation each, vs two distinct+anti-join excepts before)
    val dead = sideDiff(pre.select(mapCols: _*), post.select(mapCols: _*))
      .filter(!col(Live))
    // align pre to post's (possibly evolved) schema before the
    // full-row diff: a batch-added column pads NULL on the pre side,
    // so every post row carrying a real value there counts as changed
    val preAligned = SchemaShim.unionByName(post.limit(0), pre)
    val live = sideDiff(preAligned, post).filter(col(Live))
    // single materialization, as in [[reconcile]]
    val commit = BucketTable.manifest(indexPath).values.maxOption.getOrElse(-1L) + 1
    MaintProf.timed("idx.covering.upsert")(
      BucketTable.upsertInto(spark, indexPath,
        dead.unionByName(live, allowMissingColumns = true)
          .withColumn(Commit, lit(commit))))
    ()
  }

  /** Serve `sec = v` / `IN` / `IS NULL` combinations from a covering
    * index: one index-bucket probe per combination, live rows only,
    * full primary rows out — NO primary-table access.
    */
  def lookupMultiCovering(spark: SparkSession, indexPath: String,
      combos: Seq[Seq[Any]]): DataFrame =
    BucketTable.lookupCombos(spark, indexPath, combos)
      .filter(col(Live))
      .drop(Live, Commit)

  /** Rebuild after a destructive primary restate (insert-overwrite):
    * the verb replaced the whole table, so the index is rebuilt from
    * the replacement — proportionate, like the bucket layout's
    * overwrite handling.
    */
  def rebuildMorCovering(spark: SparkSession, primaryPath: String,
      indexPath: String): Unit = {
    val secCols = BucketTable.props(indexPath).bucketBy
    val numBuckets = BucketTable.props(indexPath).numBuckets
    FsUtil.deleteRecursively(java.nio.file.Paths.get(indexPath))
    createMorCovering(spark, primaryPath, indexPath, secCols, numBuckets)
  }

  /** Bootstrap a covering index over the TIMELINE layout's latest
    * version — the index the versioned store was missing: without it a
    * point read scans the whole head snapshot. Maintenance is the
    * [[healLocked]] reconcile fired on every commit (and force-fired
    * by [[Timeline.purgeKey]], whose in-place history rewrite moves no
    * head). Time travel never consults it: the index answers for the
    * HEAD only, and the covered-head gate keeps even that loud across
    * crashes.
    */
  def createTimelineCovering(spark: SparkSession, primaryPath: String,
      indexPath: String, secCols: Seq[String], keys: Seq[String],
      numBuckets: Int = 16): Unit = {
    require(secCols.nonEmpty && secCols.forall(!keys.contains(_)),
      s"secondary columns ($secCols) must not overlap the record key ($keys)")
    val h = Timeline.latestVersion(primaryPath).getOrElse(-1L) // before scan
    val snap = Timeline.read(spark, primaryPath).localCheckpoint()
    // the layout itself declares no key, so the caller supplies the
    // table's record key (the catalog's, for SQL-created indexes) —
    // and the serve contract needs key-unique snapshots (what every
    // keyed write route maintains). Loud here, not wrong later.
    require(snap.count() ==
      snap.select(keys.map(col): _*).distinct().count(),
      s"timeline table at $primaryPath holds duplicate record keys " +
        s"(${keys.mkString(",")}) — a covering index cannot serve it")
    val entries = snap
      .withColumn(Live, lit(true))
      .withColumn(Commit, lit(0L))
    BucketTable.create(entries, indexPath,
      keys = secCols ++ keys, precombine = Commit,
      numBuckets = numBuckets, bucketBy = secCols)
    Timeline.bindSecondaryIndex(primaryPath, secCols, indexPath)
    setCoveredHead(indexPath, h)
  }

  // ---- partitioned-layout variant (mapping index over identities) ----
  //
  // A partitioned primary already serves an O(touched slices) keyed
  // fetch ([[PartitionedTable.lookupMany]]) — so like the bucket
  // variant its index stores only MAPPINGS, here
  // (sec → identity = partition cols + keys): Hudi 1.0's secondary
  // index resolving record keys for file-group pruning, expressed over
  // our slice routing. Maintenance is ENGINE-level (bound via a table-
  // dir `_secidx` file, same as the MOR covering binding): every
  // PartitionedTable mutation primitive reconciles the (sec, identity)
  // delta of its touched rows, so SQL routes and programmatic writers
  // alike keep it current, at O(touched slices) per commit — the price
  // the cdc image writer pays in the same place. As with the MOR
  // binding, the index commits AFTER the primary swing (an index ahead
  // of the commit would serve uncommitted rows); the crash window in
  // between is caught by the covered-head serve check
  // ([[ensureCurrent]]), which reconciles on read rather than silently
  // under-serving.

  /** Bootstrap a mapping index from the partitioned primary's current
    * snapshot and bind it for engine-level maintenance.
    */
  def createPartitioned(spark: SparkSession, primaryPath: String,
      indexPath: String, secCols: Seq[String], numBuckets: Int = 16): Unit = {
    val p = PartitionedTable.props(primaryPath)
    require(secCols.nonEmpty && secCols.forall(!p.identity.contains(_)),
      s"secondary columns ($secCols) must not overlap the record " +
        s"identity (${p.identity.mkString(",")})")
    val h = PartitionedTable.latestCommit(primaryPath) // before the scan
    val entries = PartitionedTable.read(spark, primaryPath)
      .select((secCols ++ p.identity).map(col): _*)
      .withColumn(Live, lit(true))
      .withColumn(Commit, lit(0L))
    BucketTable.create(entries, indexPath,
      keys = secCols ++ p.identity, precombine = Commit,
      numBuckets = numBuckets, bucketBy = secCols)
    PartitionedTable.bindSecondaryIndex(primaryPath, secCols, indexPath)
    setCoveredHead(indexPath, h)
  }

  /** Bootstrap a GLOBAL record-level index over a partitioned primary
    * (Hudi 0.14's RLI): key → (partition values) mappings in a
    * BucketTable bucketed by the KEY columns, so a key lookup without
    * the partition value probes ONE index bucket, resolves the
    * identities, and reads only the slices they route to. Bound for
    * engine-level maintenance like the secondary index (every mutation
    * primitive reconciles the (key, partition) delta; covered-head
    * serve check catches crash-torn maintenance).
    */
  def createPartitionedRecord(spark: SparkSession, primaryPath: String,
      indexPath: String, numBuckets: Int = 16): Unit = {
    val p = PartitionedTable.props(primaryPath)
    val h = PartitionedTable.latestCommit(primaryPath) // before the scan
    val entries = PartitionedTable.read(spark, primaryPath)
      .select((p.keys ++ p.partitionCols).map(col): _*)
      .withColumn(Live, lit(true))
      .withColumn(Commit, lit(0L))
    BucketTable.create(entries, indexPath,
      keys = p.keys ++ p.partitionCols, precombine = Commit,
      numBuckets = numBuckets, bucketBy = p.keys)
    PartitionedTable.bindRecordIndex(primaryPath, indexPath)
    setCoveredHead(indexPath, h)
  }


  /** Live identities (partition cols + keys) currently mapped to the
    * secondary value — one index-bucket read, no primary access. The
    * index-composed DML route resolves its victims here.
    */
  def lookupPartitionedIds(spark: SparkSession, primaryPath: String,
      indexPath: String, secValues: Seq[Any]): DataFrame = {
    val p = PartitionedTable.props(primaryPath)
    BucketTable.lookup(spark, indexPath, secValues)
      .filter(col(Live))
      .select(p.identity.map(col): _*)
  }

  /** Serve `sec = v` / `IN` / `IS NULL` combinations against a
    * partitioned primary: one index-bucket probe per combination
    * resolves the live identities, then ONE
    * [[PartitionedTable.lookupMany]] reads only the slices those
    * identities route to — no table scan at any size.
    */
  def lookupMultiPartitioned(spark: SparkSession, primaryPath: String,
      indexPath: String, combos: Seq[Seq[Any]]): DataFrame =
    PartitionedTable.lookupMany(spark, primaryPath,
      lookupPartitionedIdsMulti(spark, primaryPath, indexPath, combos))

  /** The index half of [[lookupMultiPartitioned]] — live identities
    * for ALL combinations from one scan of their probed buckets (the
    * SQL RLI read resolves through this too).
    */
  def lookupPartitionedIdsMulti(spark: SparkSession, primaryPath: String,
      indexPath: String, combos: Seq[Seq[Any]]): DataFrame = {
    val p = PartitionedTable.props(primaryPath)
    BucketTable.lookupCombos(spark, indexPath, combos)
      .filter(col(Live))
      .select(p.identity.map(col): _*).distinct()
  }
}
