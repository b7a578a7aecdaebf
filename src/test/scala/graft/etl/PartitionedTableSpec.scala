package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class PartitionedTableSpec extends SparkSpec {
  import spark.implicits._

  // (partition value, key, precombine, data)
  private def rows(t: (String, String, Long, Double)*) =
    t.toSeq.toDF("day", "k", "pc", "v")

  private def contents(dir: String): Seq[(String, String, Long, Double)] =
    PartitionedTable.read(spark, dir)
      .select("day", "k", "pc", "v")
      .as[(String, String, Long, Double)].collect().toSeq.sorted

  private def dataFiles(dir: String): Set[(String, Any, Long)] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => (p.toString, Files.getLastModifiedTime(p), Files.size(p)))
      .toSet

  private def freshDir(): String =
    Files.createTempDirectory("part").toString + "/t"

  test("upsert merges per (partition, key) and rewrites only touched partitions") {
    val dir = freshDir()
    PartitionedTable.create(
      rows(("d1", "a", 1L, 1.0), ("d1", "b", 1L, 2.0), ("d2", "a", 1L, 3.0),
        ("d3", "c", 1L, 4.0)),
      dir, keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    val before = dataFiles(dir)

    // update (d1,a), insert (d1,z) — only partition d1 rewritten
    val touched = PartitionedTable.upsertInto(spark, dir,
      rows(("d1", "a", 2L, 10.0), ("d1", "z", 1L, 5.0)))
    assert(touched == Seq("__p_day=d1"))

    // d2 and d3 files untouched byte-for-byte
    val after = dataFiles(dir)
    val kept = before.filter(f => f._1.contains("=d2") || f._1.contains("=d3"))
    assert(kept.subsetOf(after), "untouched partition files were rewritten")

    assert(contents(dir) == Seq(
      ("d1", "a", 2L, 10.0), ("d1", "b", 1L, 2.0), ("d1", "z", 1L, 5.0),
      ("d2", "a", 1L, 3.0), ("d3", "c", 1L, 4.0)).sorted)
  }

  test("identity is partition-scoped: same key in two partitions is two records") {
    val dir = freshDir()
    PartitionedTable.create(rows(("d1", "a", 1L, 1.0), ("d2", "a", 5L, 2.0)),
      dir, keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    PartitionedTable.upsertInto(spark, dir, rows(("d1", "a", 9L, 7.0)))
    assert(contents(dir) == Seq(("d1", "a", 9L, 7.0), ("d2", "a", 5L, 2.0)))
  }

  test("pruned read scans only matching partition dirs") {
    val dir = freshDir()
    PartitionedTable.create(
      rows(("d1", "a", 1L, 1.0), ("d2", "b", 1L, 2.0), ("d3", "c", 1L, 3.0)),
      dir, keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    val pruned = PartitionedTable.prunedRead(spark, dir, col("day") >= "d2")
    assert(pruned.select("k").as[String].collect().toSet == Set("b", "c"))
    val scanned = pruned.inputFiles.toSeq
    assert(scanned.nonEmpty &&
      scanned.forall(f => f.contains("__p_day=d2") || f.contains("__p_day=d3")),
      s"pruned read scanned non-matching files: $scanned")
  }

  test("prunePartitions evaluates the predicate on typed partition values") {
    val dir = freshDir()
    val df = Seq((java.sql.Date.valueOf("2024-01-03"), "a", 1L, 1.0),
      (java.sql.Date.valueOf("2024-01-10"), "b", 1L, 2.0))
      .toDF("day", "k", "pc", "v")
    PartitionedTable.create(df, dir, keys = Seq("k"), precombine = "pc",
      partitionCols = Seq("day"))
    // date comparison, not string comparison
    val hit = PartitionedTable.prunePartitions(spark, dir,
      col("day") < lit("2024-01-05").cast("date"))
    assert(hit == Seq("__p_day=2024-01-03"))
    // the typed date column survives the round trip in the data files
    assert(PartitionedTable.read(spark, dir).schema("day").dataType ==
      org.apache.spark.sql.types.DateType)
  }

  test("dropPartitions is metadata-only; clean reclaims the files") {
    val dir = freshDir()
    PartitionedTable.create(
      rows(("d1", "a", 1L, 1.0), ("d2", "b", 1L, 2.0)),
      dir, keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    val filesBefore = dataFiles(dir)
    val dropped = PartitionedTable.dropPartitions(spark, dir, col("day") === "d1")
    assert(dropped == Seq("__p_day=d1"))
    // no data job ran: every file still on disk, rows invisible
    assert(dataFiles(dir) == filesBefore)
    assert(contents(dir) == Seq(("d2", "b", 1L, 2.0)))
    val removed = PartitionedTable.clean(dir)
    assert(removed.exists(_.contains("__p_day=d1")))
    assert(dataFiles(dir).size < filesBefore.size)
    assert(contents(dir) == Seq(("d2", "b", 1L, 2.0)))
  }

  test("insertOverwrite replaces partition content instead of merging") {
    val dir = freshDir()
    PartitionedTable.create(
      rows(("d1", "a", 1L, 1.0), ("d1", "b", 1L, 2.0), ("d2", "c", 1L, 3.0)),
      dir, keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    PartitionedTable.insertOverwrite(spark, dir, rows(("d1", "a", 2L, 9.0)))
    // b is GONE from d1 (an upsert would have kept it); d2 untouched
    assert(contents(dir) == Seq(("d1", "a", 2L, 9.0), ("d2", "c", 1L, 3.0)))
  }

  test("null partition values are rejected loudly") {
    val dir = freshDir()
    PartitionedTable.create(rows(("d1", "a", 1L, 1.0)), dir,
      keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    val bad = Seq((Option.empty[String], "x", 1L, 0.0)).toDF("day", "k", "pc", "v")
    val e = intercept[IllegalArgumentException] {
      PartitionedTable.upsertInto(spark, dir, bad)
    }
    assert(e.getMessage.contains("null partition value"))
  }

  test("special characters in partition values round-trip") {
    val dir = freshDir()
    PartitionedTable.create(
      rows(("a=b/c d", "k1", 1L, 1.0), ("plain", "k2", 1L, 2.0)),
      dir, keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    PartitionedTable.upsertInto(spark, dir, rows(("a=b/c d", "k1", 2L, 5.0)))
    assert(contents(dir) == Seq(("a=b/c d", "k1", 2L, 5.0), ("plain", "k2", 1L, 2.0)))
    assert(PartitionedTable.prunePartitions(spark, dir,
      col("day") === "a=b/c d").size == 1)
  }

  test("compact collapses generations without changing data") {
    val dir = freshDir()
    PartitionedTable.create(rows(("d1", "a", 1L, 1.0), ("d2", "b", 1L, 2.0)),
      dir, keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    PartitionedTable.upsertInto(spark, dir, rows(("d1", "a", 2L, 3.0)))
    val before = contents(dir)
    assert(PartitionedTable.manifest(dir).values.toSet.size == 2)
    PartitionedTable.compact(spark, dir)
    PartitionedTable.clean(dir)
    assert(PartitionedTable.manifest(dir).values.toSet.size == 1)
    assert(contents(dir) == before)
  }

  test("file groups: upsert rewrites only the touched (partition, group) slice") {
    val dir = freshDir()
    val base = (1 to 64).map(i => ("d1", s"k$i", 1L, i.toDouble)) ++
      (1 to 16).map(i => ("d2", s"k$i", 1L, -i.toDouble))
    PartitionedTable.create(base.toDF("day", "k", "pc", "v"), dir,
      keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"),
      numGroups = 4)
    // every (partition, group) leaf is its own manifest entry
    val m0 = PartitionedTable.manifest(dir)
    assert(m0.keySet.forall(_.matches("__p_day=d[12]/__g=\\d+")), m0.keySet)
    val before = dataFiles(dir)

    val touched = PartitionedTable.upsertInto(spark, dir,
      rows(("d1", "k7", 2L, 700.0)))
    assert(touched.size == 1 && touched.head.startsWith("__p_day=d1/__g="),
      s"expected one (partition, group) slice, got $touched")
    // every other slice of d1 — and all of d2 — keeps its files
    val kept = before.filterNot(_._1.contains(touched.head))
    assert(kept.subsetOf(dataFiles(dir)), "untouched group slices were rewritten")
    // read parity
    assert(contents(dir) == (base.map {
      case ("d1", "k7", _, _) => ("d1", "k7", 2L, 700.0)
      case r => r
    }).sorted)
  }

  test("file groups: point lookup reads one leaf dir; overwrite clears missed groups") {
    val dir = freshDir()
    val base = (1 to 64).map(i => ("d1", s"k$i", 1L, i.toDouble))
    PartitionedTable.create(base.toDF("day", "k", "pc", "v"), dir,
      keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"),
      numGroups = 8)
    val hit = PartitionedTable.lookup(spark, dir, Seq("d1"), Seq("k13"))
    assert(hit.select("v").as[Double].collect().toSeq == Seq(13.0))
    val leaf = hit.inputFiles.toSeq
    assert(leaf.nonEmpty && leaf.map(_.replaceAll("/[^/]*$", "")).distinct.size == 1,
      s"lookup scanned more than one leaf dir: $leaf")
    // missing key in an existing slice and a missing partition both
    // come back empty without error
    assert(PartitionedTable.lookup(spark, dir, Seq("d1"), Seq("nope")).isEmpty)
    assert(PartitionedTable.lookup(spark, dir, Seq("dX"), Seq("k1")).isEmpty)

    // insert_overwrite with a batch hitting SOME groups must still
    // restate the whole partition: rows in missed groups disappear
    PartitionedTable.insertOverwrite(spark, dir,
      rows(("d1", "k13", 2L, -13.0)))
    assert(contents(dir) == Seq(("d1", "k13", 2L, -13.0)))
  }

  test("delta upserts append without touching the base; snapshot merges, compact folds") {
    val dir = freshDir()
    PartitionedTable.create(
      rows(("d1", "a", 1L, 1.0), ("d1", "b", 1L, 2.0), ("d2", "c", 1L, 3.0)),
      dir, keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    val baseFiles = dataFiles(dir)

    // two delta commits: an update, an insert, a cross-commit update
    PartitionedTable.upsertDelta(spark, dir, rows(("d1", "a", 2L, 10.0)))
    PartitionedTable.upsertDelta(spark, dir,
      rows(("d1", "z", 1L, 5.0), ("d2", "c", 3L, 30.0)))
    // base files untouched byte-for-byte — the O(batch) commit
    assert(baseFiles.subsetOf(dataFiles(dir)), "delta commit rewrote base files")
    assert(PartitionedTable.deltas(dir).map(_._2).distinct.sorted == Seq(1L, 2L))

    // snapshot merges base + deltas; read-optimized sees base only
    val snap = Seq(("d1", "a", 2L, 10.0), ("d1", "b", 1L, 2.0),
      ("d1", "z", 1L, 5.0), ("d2", "c", 3L, 30.0))
    assert(contents(dir) == snap.sorted)
    assert(PartitionedTable.readOptimized(spark, dir)
      .select("day", "k", "pc", "v").as[(String, String, Long, Double)]
      .collect().toSeq.sorted ==
      Seq(("d1", "a", 1L, 1.0), ("d1", "b", 1L, 2.0), ("d2", "c", 1L, 3.0)))
    // pruned read merges deltas for the surviving partitions
    assert(PartitionedTable.prunedRead(spark, dir, col("day") === "d2")
      .select("v").as[Double].collect().toSeq == Seq(30.0))

    // on a precombine TIE the later commit wins (delta overrides base)
    PartitionedTable.upsertDelta(spark, dir, rows(("d1", "b", 1L, -2.0)))
    assert(contents(dir).contains(("d1", "b", 1L, -2.0)))

    // compaction folds the logs into a fresh base and resets them
    val gen = PartitionedTable.compactDeltas(spark, dir)
    assert(gen.nonEmpty && PartitionedTable.deltas(dir).isEmpty)
    val after = contents(dir)
    assert(after == (snap.map {
      case ("d1", "b", p, _) => ("d1", "b", p, -2.0); case r => r
    }).sorted)
    assert(PartitionedTable.readOptimized(spark, dir)
      .select("day", "k", "pc", "v").as[(String, String, Long, Double)]
      .collect().toSeq.sorted == after)
    // nothing left to compact; clean reclaims the folded dgen dirs
    assert(PartitionedTable.compactDeltas(spark, dir).isEmpty)
    assert(PartitionedTable.clean(dir).exists(_.startsWith("dgen=")))
    assert(contents(dir) == after)
  }

  test("deleteDelta tombstones rows; compaction removes them physically; upsert resurrects") {
    val dir = freshDir()
    PartitionedTable.create(
      rows(("d1", "a", 1L, 1.0), ("d1", "b", 1L, 2.0), ("d2", "c", 1L, 3.0)),
      dir, keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    val baseFiles = dataFiles(dir)
    // tombstone (d1, a) with an outranking precombine — O(batch), no
    // base rewrite
    PartitionedTable.deleteDelta(spark, dir,
      Seq(("d1", "a", 99L)).toDF("day", "k", "pc"))
    assert(baseFiles.subsetOf(dataFiles(dir)))
    assert(contents(dir) == Seq(("d1", "b", 1L, 2.0), ("d2", "c", 1L, 3.0)))
    // the CDC feed reports the delete
    val chg = PartitionedTable.changesSince(spark, dir, 0L)
      .select("deleted", "day", "k").as[(Boolean, String, String)].collect().toSeq
    assert(chg == Seq((true, "d1", "a")))
    // a LATER upsert resurrects the key
    PartitionedTable.upsertDelta(spark, dir, rows(("d1", "a", 100L, 7.0)))
    assert(contents(dir).contains(("d1", "a", 100L, 7.0)))
    // re-delete, compact: the tombstoned row is physically gone and
    // the tombstone itself does not survive into the base
    PartitionedTable.deleteDelta(spark, dir,
      Seq(("d1", "a", 101L)).toDF("day", "k", "pc"))
    PartitionedTable.compactDeltas(spark, dir)
    assert(contents(dir) == Seq(("d1", "b", 1L, 2.0), ("d2", "c", 1L, 3.0)))
    assert(PartitionedTable.readOptimized(spark, dir)
      .select("day", "k").as[(String, String)].collect().toSet ==
      Set(("d1", "b"), ("d2", "c")))
  }

  test("savepoints pin base AND delta log; restore-then-write never corrupts a later pin") {
    val dir = freshDir()
    PartitionedTable.create(rows(("d1", "a", 1L, 1.0)), dir,
      keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    PartitionedTable.upsertDelta(spark, dir, rows(("d1", "b", 1L, 2.0)))
    PartitionedTable.savepoint(dir, "s1") // pins base gen 0 + delta seq 1
    PartitionedTable.upsertInto(spark, dir, rows(("d1", "a", 2L, 9.0)))
    PartitionedTable.savepoint(dir, "s2") // pins the post-upsert state
    val s2State = PartitionedTable.readSavepoint(spark, dir, "s2")
      .select("day", "k", "pc", "v").as[(String, String, Long, Double)]
      .collect().toSeq.sorted

    // clean keeps everything both savepoints reference
    assert(PartitionedTable.clean(dir).isEmpty)
    // s1's snapshot includes its pinned DELTA commit
    assert(PartitionedTable.readSavepoint(spark, dir, "s1")
      .select("day", "k", "pc", "v").as[(String, String, Long, Double)]
      .collect().toSeq.sorted ==
      Seq(("d1", "a", 1L, 1.0), ("d1", "b", 1L, 2.0)))

    // roll back to s1, then write again: the new commits must not
    // reuse (and destroy) generations/delta seqs s2 still pins
    PartitionedTable.restoreSavepoint(spark, dir, "s1")
    PartitionedTable.upsertInto(spark, dir, rows(("d1", "c", 1L, 3.0)))
    PartitionedTable.upsertDelta(spark, dir, rows(("d1", "e", 1L, 5.0)))
    assert(PartitionedTable.readSavepoint(spark, dir, "s2")
      .select("day", "k", "pc", "v").as[(String, String, Long, Double)]
      .collect().toSeq.sorted == s2State,
      "post-restore writes corrupted the later savepoint")
    assert(contents(dir).toSet ==
      Set(("d1", "a", 1L, 1.0), ("d1", "b", 1L, 2.0),
        ("d1", "c", 1L, 3.0), ("d1", "e", 1L, 5.0)))
  }

  test("point lookup sees pending delta upserts and tombstones") {
    val dir = freshDir()
    PartitionedTable.create(
      rows(("d1", "a", 1L, 1.0), ("d1", "b", 1L, 2.0)), dir,
      keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"),
      numGroups = 4)
    // delta-update a, tombstone b, insert into a delta-only partition
    PartitionedTable.upsertDelta(spark, dir, rows(("d1", "a", 2L, 9.0)))
    PartitionedTable.deleteDelta(spark, dir,
      Seq(("d1", "b", 99L)).toDF("day", "k", "pc"))
    PartitionedTable.upsertDelta(spark, dir, rows(("d9", "n", 1L, 7.0)))
    assert(PartitionedTable.lookup(spark, dir, Seq("d1"), Seq("a"))
      .select("v").as[Double].collect().toSeq == Seq(9.0))
    assert(PartitionedTable.lookup(spark, dir, Seq("d1"), Seq("b")).isEmpty)
    // a key living only in the delta log is found too
    assert(PartitionedTable.lookup(spark, dir, Seq("d9"), Seq("n"))
      .select("v").as[Double].collect().toSeq == Seq(7.0))
  }

  test("replaying the same delta batch converges (foreachBatch crash-replay safety)") {
    val dir = freshDir()
    PartitionedTable.create(rows(("d1", "a", 1L, 1.0)), dir,
      keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    val batch = rows(("d1", "a", 2L, 9.0), ("d1", "b", 1L, 2.0))
    PartitionedTable.upsertDelta(spark, dir, batch)
    val once = contents(dir)
    // a crashed stream re-delivers the batch: a second append commits,
    // but the (precombine, commit seq, tieBreak) merge keeps the state
    // identical — replay converges instead of duplicating
    PartitionedTable.upsertDelta(spark, dir, batch)
    assert(contents(dir) == once)
    // and compaction of the doubled log still lands on the same state
    PartitionedTable.compactDeltas(spark, dir)
    assert(contents(dir) == once)
  }

  test("maybeCluster triggers only on fragmented slices") {
    val dir = freshDir()
    PartitionedTable.create(rows(("d1", "a", 1L, 1.0)), dir,
      keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    // one file per slice — below any sensible threshold
    assert(PartitionedTable.maybeCluster(spark, dir, Seq("v"),
      minFilesPerSlice = 2).isEmpty)
    // fragment d1 across several generations via repeated upserts
    (2 to 4).foreach(i =>
      PartitionedTable.upsertInto(spark, dir, rows(("d1", s"k$i", 1L, i.toDouble))))
    // upserts REWRITE the slice, so still one live file; compact the
    // fragmentation in by writing a multi-file slice directly
    val wide = (1 to 64).map(i => ("d2", s"w$i", 1L, i.toDouble))
    PartitionedTable.upsertInto(spark, dir,
      wide.toDF("day", "k", "pc", "v").repartition(8))
    // force multiple files in one slice via cluster with tiny target
    PartitionedTable.cluster(spark, dir, Seq("v"), targetFileRows = 8L)
    val before = contents(dir)
    assert(PartitionedTable.maybeCluster(spark, dir, Seq("v"),
      minFilesPerSlice = 4, targetFileRows = 1000000L).nonEmpty)
    assert(contents(dir) == before)
    // now coalesced — trigger is quiet again
    assert(PartitionedTable.maybeCluster(spark, dir, Seq("v"),
      minFilesPerSlice = 4, targetFileRows = 1000000L).isEmpty)
  }

  test("changesSince pulls only later delta commits; drop/overwrite clear pending deltas") {
    val dir = freshDir()
    PartitionedTable.create(rows(("d1", "a", 1L, 1.0), ("d2", "b", 1L, 2.0)),
      dir, keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    PartitionedTable.upsertDelta(spark, dir, rows(("d1", "a", 2L, 10.0)))
    PartitionedTable.upsertDelta(spark, dir, rows(("d3", "n", 1L, 7.0)))
    // a delta-only partition is visible to snapshot and pruning
    assert(PartitionedTable.prunedRead(spark, dir, col("day") === "d3")
      .select("v").as[Double].collect().toSeq == Seq(7.0))

    val all = PartitionedTable.changesSince(spark, dir, 0L)
      .select("change_seq", "day", "k").as[(Long, String, String)]
      .collect().toSeq.sorted
    assert(all == Seq((1L, "d1", "a"), (2L, "d3", "n")))
    assert(PartitionedTable.changesSince(spark, dir, 1L)
      .select("k").as[String].collect().toSeq == Seq("n"))
    assert(PartitionedTable.changesSince(spark, dir, 2L).isEmpty)

    // dropping d1 must also drop its pending delta (no resurrection)
    PartitionedTable.dropPartitions(spark, dir, col("day") === "d1")
    assert(!contents(dir).exists(_._1 == "d1"))
    // overwriting d3 supersedes its pending delta wholesale
    PartitionedTable.insertOverwrite(spark, dir, rows(("d3", "x", 1L, 9.0)))
    assert(PartitionedTable.prunedRead(spark, dir, col("day") === "d3")
      .select("k").as[String].collect().toSeq == Seq("x"))
  }

  test("change seqs survive compaction; retired windows fail loudly (no aliasing)") {
    val dir = freshDir()
    PartitionedTable.create(rows(("d1", "a", 1L, 1.0), ("d2", "b", 1L, 2.0)),
      dir, keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    PartitionedTable.upsertDelta(spark, dir, rows(("d1", "a", 2L, 10.0))) // seq 1
    PartitionedTable.upsertDelta(spark, dir, rows(("d1", "c", 1L, 3.0))) // seq 2
    val checkpoint = 1L // consumer pulled through seq 1 only
    PartitionedTable.compactDeltas(spark, dir) // folds 1..2; floor = 2
    assert(PartitionedTable.compactedThrough(dir) == 2L)
    // post-compaction commits continue the GLOBAL numbering (3, not 1)
    PartitionedTable.upsertDelta(spark, dir, rows(("d2", "e", 1L, 5.0)))
    assert(PartitionedTable.deltas(dir).map(_._2).distinct == Seq(3L))
    assert(PartitionedTable.changeHead(dir) == 3L)
    // the r12 aliasing window: the stale cursor would have matched the
    // renumbered feed — now it raises toward a re-sync
    val err = intercept[IllegalArgumentException] {
      PartitionedTable.changesSince(spark, dir, checkpoint)
    }
    assert(err.getMessage.contains("re-sync"))
    // a cursor AT the floor is valid and sees exactly the new commits
    assert(PartitionedTable.changesSince(spark, dir, 2L)
      .select("change_seq", "k").as[(Long, String)].collect().toSeq ==
      Seq((3L, "e")))
    // a DESTRUCTIVE retirement (overwrite) consumes a seq and floors
    // past EVERY cursor — the restate is invisible to the feed, so even
    // the consumer checkpointed at the pre-overwrite head (3) must
    // re-sync loudly, not just the one below it
    PartitionedTable.insertOverwrite(spark, dir, rows(("d2", "x", 9L, 9.0)))
    assert(PartitionedTable.compactedThrough(dir) == 4L)
    for (stale <- Seq(2L, 3L)) {
      val err2 = intercept[IllegalArgumentException] {
        PartitionedTable.changesSince(spark, dir, stale)
      }
      assert(err2.getMessage.contains("re-sync"))
    }
    // a post-overwrite re-synced consumer checkpoints the new head (=
    // the floor) and pulls a valid empty window
    assert(PartitionedTable.changeHead(dir) == 4L)
    assert(PartitionedTable.changesSince(spark, dir, 4L).isEmpty)
    // and the next delta commit still never reuses a retired seq
    PartitionedTable.upsertDelta(spark, dir, rows(("d1", "f", 1L, 6.0)))
    assert(PartitionedTable.deltas(dir).map(_._2).distinct == Seq(5L))
  }

  test("OCC: disjoint-partition writers both commit despite a stale base") {
    val dir = freshDir()
    PartitionedTable.create(
      rows(("d1", "a", 1L, 1.0), ("d2", "b", 1L, 2.0), ("d3", "c", 1L, 3.0)),
      dir, keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    val p = PartitionedTable.props(dir)
    val m0 = PartitionedTable.manifest(dir)

    // writer B commits d2 first (plain path)
    PartitionedTable.upsertInto(spark, dir, rows(("d2", "b", 2L, -2.0)))
    // writer A validated against m0 (stale) but touches only d1 —
    // disjoint from d2, so its attempt must still commit
    val taggedA = rows(("d1", "a", 2L, -1.0))
      .withColumn("__p_day", col("day").cast("string"))
    val resA = PartitionedTable.attemptOcc(spark, dir, taggedA,
      Set("__p_day=d1"), p, m0)
    assert(resA.contains(Seq("__p_day=d1")), "disjoint-partition attempt must commit")
    assert(contents(dir) == Seq(("d1", "a", 2L, -1.0), ("d2", "b", 2L, -2.0),
      ("d3", "c", 1L, 3.0)))

    // same-partition staleness conflicts: an attempt against the
    // original m0 touching d2 must abort cleanly
    val taggedC = rows(("d2", "x", 2L, -9.0))
      .withColumn("__p_day", col("day").cast("string"))
    val before = contents(dir)
    assert(PartitionedTable.attemptOcc(spark, dir, taggedC,
      Set("__p_day=d2"), p, m0).isEmpty)
    assert(contents(dir) == before, "aborted attempt must not change the table")

    // the retry loop resolves the conflict
    PartitionedTable.upsertIntoOcc(spark, dir, rows(("d2", "x", 2L, -9.0)))
    assert(contents(dir).contains(("d2", "x", 2L, -9.0)))
  }

  test("OCC: concurrent partition writers converge to the sequential state") {
    val dir = freshDir()
    PartitionedTable.create(
      (1 to 32).map(i => (s"d${i % 4}", s"k$i", 1L, i.toDouble))
        .toDF("day", "k", "pc", "v"),
      dir, keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (0 until 4).map { w =>
      Future(PartitionedTable.upsertIntoOcc(spark, dir,
        (8 * w + 1 to 8 * (w + 1)).map(i => (s"d${i % 4}", s"k$i", 2L, -i.toDouble))
          .toDF("day", "k", "pc", "v")))
    }
    Await.result(Future.sequence(writers), 300.seconds)
    val got = contents(dir)
    assert(got == (1 to 32).map(i => (s"d${i % 4}", s"k$i", 2L, -i.toDouble))
      .sorted, s"lost updates: $got")
  }

  test("incrementalRead returns only partitions committed after sinceGen") {
    val dir = freshDir()
    PartitionedTable.create(
      rows(("d1", "a", 1L, 1.0), ("d2", "b", 1L, 2.0), ("d3", "c", 1L, 3.0)),
      dir, keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    val g0 = PartitionedTable.latestGen(dir)
    assert(g0 == 0L)
    PartitionedTable.upsertInto(spark, dir, rows(("d2", "b", 2L, 9.0)))
    // only d2 changed since the create commit; full current content of it
    val inc = PartitionedTable.incrementalRead(spark, dir, sinceGen = g0)
      .select("day", "k", "pc", "v").as[(String, String, Long, Double)]
      .collect().toSeq.sorted
    assert(inc == Seq(("d2", "b", 2L, 9.0)))
    // nothing changed since the latest commit
    assert(PartitionedTable.incrementalRead(spark, dir,
      PartitionedTable.latestGen(dir)).isEmpty)
    // everything changed since before the table existed
    assert(PartitionedTable.incrementalRead(spark, dir, -1L).count() == 3)
  }

  test("cluster rewrites partitions into disjoint sort-key range files") {
    val dir = freshDir()
    // two partitions, 400 rows each, sort key interleaved across rows
    val df = (1 to 800).map(i => (if (i % 2 == 0) "d1" else "d2",
      s"k$i", 1L, ((i * 37) % 800).toDouble)).toDF("day", "k", "pc", "v")
    PartitionedTable.create(df, dir, keys = Seq("k"), precombine = "pc",
      partitionCols = Seq("day"))
    val before = contents(dir)
    PartitionedTable.cluster(spark, dir, sortCols = Seq("v"),
      targetFileRows = 100L)
    // logical invariance
    assert(contents(dir) == before)
    // physical effect: within each partition, per-file [min,max] of the
    // sort key are pairwise disjoint — the property parquet row-group
    // stats and StatsIndex turn into skipped I/O
    val m = PartitionedTable.manifest(dir)
    assert(m.values.toSet.size == 1, "cluster must repoint all partitions")
    val gen = m.values.head
    for (pdir <- m.keySet) {
      val files = Files.list(Paths.get(s"$dir/gen=$gen/$pdir"))
        .iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq
      assert(files.size > 1, s"expected several range files in $pdir")
      val ranges = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min(col("v")), max(col("v"))).head()
        (r.getDouble(0), r.getDouble(1))
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) =>
          assert(hi <= lo2, s"overlapping file ranges in $pdir: $ranges")
        case _ =>
      }
    }
  }

  test("clusterBy with a z-value expression tightens file stats on both dimensions") {
    val dir = freshDir()
    // one partition, 512 rows on a 16x32 (x, y) grid in shuffled order
    val df = (0 until 512).map { i =>
      val j = (i * 197) % 512
      ("d1", s"k$j", 1L, (j % 16).toDouble * 1000 + (j / 16))
    }.map { case (d, k, pc, v) => (d, k, pc, v) }
      .toDF("day", "k", "pc", "v")
      .withColumn("x", (col("v") / 1000).cast("int"))
      .withColumn("y", (col("v") % 1000).cast("int"))
    PartitionedTable.create(df, dir, keys = Seq("k"), precombine = "pc",
      partitionCols = Seq("day"))
    val before = PartitionedTable.read(spark, dir)
      .select("k", "x", "y").as[(String, Int, Int)].collect().toSet
    val zExpr = expr(graft.ops.Scale.zValueSql("x", "y", "div"))
    PartitionedTable.clusterBy(spark, dir, Seq(zExpr), targetFileRows = 64L)
    // logical invariance
    assert(PartitionedTable.read(spark, dir)
      .select("k", "x", "y").as[(String, Int, Int)].collect().toSet == before)
    // physical effect: every file's (x, y) bounding box is a fraction
    // of the full 16x32 grid — both dimensions stay tight, which a
    // single-column sort cannot do for the second dimension
    val gen = PartitionedTable.manifest(dir).values.head
    val pdir = PartitionedTable.manifest(dir).keySet.head
    val files = Files.list(Paths.get(s"$dir/gen=$gen/$pdir"))
      .iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq
    assert(files.size >= 4, s"expected >=4 z-range files, got ${files.size}")
    val stats = files.map { f =>
      val r = spark.read.parquet(f)
        .withColumn("__z", zExpr)
        .agg(min(col("x")), max(col("x")), min(col("y")), max(col("y")),
          min(col("__z")), max(col("__z"))).head()
      (r.getLong(4), r.getLong(5),
        (r.getInt(1) - r.getInt(0) + 1).toLong * (r.getInt(3) - r.getInt(2) + 1))
    }
    // files carry DISJOINT z-ranges (the exact property of the layout)
    val zr = stats.map(s => (s._1, s._2)).sortBy(_._1)
    zr.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlapping z ranges: $zr")
      case _ =>
    }
    // and the (x, y) bounding boxes stay tight on BOTH dimensions:
    // every box strictly under the full 16x32 grid, on average a small
    // fraction of it (a straddling file can span two diagonal z-blocks,
    // so the per-file bound is loose; the mean is the real signal)
    val boxes = stats.map(_._3)
    assert(boxes.forall(_ < 512), s"a file spans the whole grid: $boxes")
    assert(boxes.sum / boxes.size <= 192, s"loose z-order boxes on average: $boxes")
  }

  test("multi-level partitioning routes, prunes and cleans by both columns") {
    val dir = freshDir()
    val df = Seq(("d1", "us", "a", 1L, 1.0), ("d1", "eu", "b", 1L, 2.0),
      ("d2", "us", "c", 1L, 3.0))
      .toDF("day", "region", "k", "pc", "v")
    PartitionedTable.create(df, dir, keys = Seq("k"), precombine = "pc",
      partitionCols = Seq("day", "region"))
    val touched = PartitionedTable.upsertInto(spark, dir,
      Seq(("d1", "us", "a", 2L, 9.0)).toDF("day", "region", "k", "pc", "v"))
    assert(touched == Seq("__p_day=d1/__p_region=us"))
    val pruned = PartitionedTable.prunedRead(spark, dir,
      col("day") === "d1" && col("region") === "us")
    assert(pruned.select("v").as[Double].collect().toSeq == Seq(9.0))
    assert(pruned.inputFiles.forall(_.contains("__p_day=d1/__p_region=us")))
    PartitionedTable.dropPartitions(spark, dir, col("region") === "eu")
    assert(PartitionedTable.read(spark, dir).select("k").as[String]
      .collect().toSet == Set("a", "c"))
    assert(PartitionedTable.clean(dir).exists(_.contains("__p_region=eu")))
  }

  test("a rewrite that empties every partition leaves the table readable") {
    val dir = freshDir()
    PartitionedTable.create(rows(("d1", "a", 1L, 1.0), ("d2", "b", 1L, 2.0)),
      dir, keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    PartitionedTable.deleteFrom(spark, dir,
      Seq(("d1", "a"), ("d2", "b")).toDF("day", "k"))
    assert(PartitionedTable.manifest(dir).isEmpty)
    val snap = PartitionedTable.read(spark, dir)
    assert(snap.columns.toSeq == Seq("day", "k", "pc", "v") &&
      snap.count() == 0L)
    // compact is a no-op, not an error; the next upsert revives it
    assert(PartitionedTable.compact(spark, dir) == -1L)
    PartitionedTable.upsertInto(spark, dir, rows(("d3", "c", 1L, 3.0)))
    assert(contents(dir) == Seq(("d3", "c", 1L, 3.0)))
  }

  test("versioned reads fold manifest swings AND delta commits back out") {
    val dir = freshDir()
    PartitionedTable.create(rows(("d1", "a", 1L, 1.0), ("d2", "b", 1L, 2.0)),
      dir, keys = Seq("k"), precombine = "pc",
      partitionCols = Seq("day"))                               // commit 1
    PartitionedTable.upsertInto(spark, dir,
      rows(("d1", "a", 2L, 11.0), ("d1", "c", 1L, 3.0)))        // commit 2
    PartitionedTable.upsertDelta(spark, dir,
      rows(("d2", "b", 2L, 22.0)))                              // commit 3
    PartitionedTable.deleteDelta(spark, dir,
      Seq(("d1", "c", 9L)).toDF("day", "k", "pc"))              // commit 4
    PartitionedTable.compactDeltas(spark, dir)                  // commit 5
    PartitionedTable.dropPartitions(spark, dir,
      col("day") === "d1")                                      // commit 6
    assert(PartitionedTable.latestCommit(dir) == 6L)
    def asOf(c: Long): Set[(String, String, Double)] =
      PartitionedTable.readVersion(spark, dir, c)
        .select("day", "k", "v").as[(String, String, Double)].collect().toSet
    assert(asOf(1L) == Set(("d1", "a", 1.0), ("d2", "b", 2.0)))
    assert(asOf(2L) == Set(("d1", "a", 11.0), ("d1", "c", 3.0),
      ("d2", "b", 2.0)))
    assert(asOf(3L) == Set(("d1", "a", 11.0), ("d1", "c", 3.0),
      ("d2", "b", 22.0)))
    assert(asOf(4L) == Set(("d1", "a", 11.0), ("d2", "b", 22.0)))
    // delta compaction is row-preserving: same rows, folded layout
    assert(asOf(5L) == asOf(4L))
    assert(asOf(6L) == Set(("d2", "b", 22.0)))
    // head version == live read
    assert(asOf(6L) == contents(dir).map(r => (r._1, r._2, r._4)).toSet)
    // out-of-range commits are loud
    intercept[IllegalArgumentException] {
      PartitionedTable.readVersion(spark, dir, 0L)
    }
    intercept[IllegalArgumentException] {
      PartitionedTable.readVersion(spark, dir, 7L)
    }
    // a TORN trailing line (append crashed mid-write, no ts= token)
    // is excluded: numbered versions stay consistent and the next
    // commit's live-state diff would absorb the gap
    Files.writeString(Paths.get(dir, "_commits"),
      "99 write M:__p_day%3Dd9:7",
      java.nio.file.StandardOpenOption.APPEND)
    assert(asOf(6L) == Set(("d2", "b", 22.0)))
    // strip the torn line again so archival below sees a clean log
    val cl = Paths.get(dir, "_commits")
    Files.writeString(cl, Files.readAllLines(cl).asScala
      .filterNot(_.startsWith("99 ")).mkString("", "\n", "\n"))
    // archival folds the active log but history stays resolvable:
    // a pre-boundary version reads through `_commits_archive`
    PartitionedTable.archiveCommits(dir, 2)
    assert(asOf(2L) == Set(("d1", "a", 11.0), ("d1", "c", 3.0),
      ("d2", "b", 2.0)))
    // KEEP_LATEST_COMMITS retention: keep=3 guarantees commits 4..6
    // stay readable across the sweep
    PartitionedTable.clean(dir, keepVersions = 3)
    assert(asOf(4L) == Set(("d1", "a", 11.0), ("d2", "b", 22.0)))
    // an unretained clean reclaims history: loud, never partial
    PartitionedTable.clean(dir)
    val e = intercept[IllegalArgumentException] {
      PartitionedTable.readVersion(spark, dir, 1L)
    }
    assert(e.getMessage.contains("reclaimed by clean"))
    // the head stays readable after clean
    assert(asOf(6L) == Set(("d2", "b", 22.0)))
  }

  test("a lost commit line refuses partitioned history loudly; compaction resets it") {
    val dir = freshDir()
    PartitionedTable.create(rows(("d1", "a", 1L, 1.0), ("d2", "b", 1L, 2.0)),
      dir, keys = Seq("k"), precombine = "pc",
      partitionCols = Seq("day"))                               // commit 1
    PartitionedTable.upsertInto(spark, dir,
      rows(("d1", "a", 2L, 11.0)))                              // commit 2
    // simulate a crash between the metadata swing and the log append:
    // the LAST line vanishes — the live state now carries a commit the
    // log never recorded, and per-dir diffs cannot absorb it (the next
    // commit's diff baselines on the post-crash live state, so the lost
    // repointings would silently corrupt every later version)
    val cl = Paths.get(dir, "_commits")
    Files.writeString(cl, Files.readAllLines(cl).asScala
      .dropRight(1).mkString("", "\n", "\n"))
    val e = intercept[IllegalArgumentException] {
      PartitionedTable.readVersion(spark, dir, 1L)
    }
    assert(e.getMessage.contains("does not fold to the live"))
    // a maintenance compaction logs a RESET line carrying the FULL
    // post state — the fold re-anchors and history serves again
    PartitionedTable.compact(spark, dir)                        // commit 2'
    def asOf(c: Long): Set[(String, String, Double)] =
      PartitionedTable.readVersion(spark, dir, c)
        .select("day", "k", "v").as[(String, String, Double)].collect().toSet
    assert(asOf(1L) == Set(("d1", "a", 1.0), ("d2", "b", 2.0)))
    assert(asOf(2L) == Set(("d1", "a", 11.0), ("d2", "b", 2.0)))
  }
}
