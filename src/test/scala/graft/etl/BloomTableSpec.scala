package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins what makes the bloom file index an index: merged results equal
  * the plain keyed upsert, key-local batches rewrite only their files,
  * definitely-absent keys (bloom negative inside an overlapping range)
  * append without touching any file, lookups read one file, and a
  * writer crash between the manifest and index swaps self-heals.
  */
class BloomTableSpec extends SparkSpec {
  import spark.implicits._

  private def scratch() = Files.createTempDirectory("bloomtbl").toString + "/t"

  private def ev = graft.Tables.events(spark, sf0001)
    .select(col("user_id"), col("event_id"), col("event_type"),
      col("value"), col("ts_us"))
    .filter(col("ts_us").isNotNull)

  private val split = graft.ops.PipelineQueries.SplitUs

  test("create + upserts equal precombine-latest over the union of batches") {
    val path = scratch()
    val b0 = ev.filter(col("ts_us") <= split)
    val b1 = ev.filter(col("ts_us") > split && col("user_id") % 3 === 0)
    val b2 = ev.filter(col("ts_us") > split && col("user_id") % 3 =!= 0)
    BloomTable.create(b0, path, keys = Seq("user_id"), precombine = "ts_us",
      tieBreak = Seq("event_id"), numFiles = 8)
    BloomTable.upsertInto(spark, path, b1)
    BloomTable.upsertInto(spark, path, b2)
    val got = BloomTable.read(spark, path)
    val want = HudiLike.precombineLatest(b0.unionByName(b1).unionByName(b2),
      Seq("user_id"), "ts_us", Seq("event_id"))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("changedSince serves new commits' rows; row-removing windows fail loudly") {
    import spark.implicits._
    val path = scratch()
    val b0 = ev.filter(col("ts_us") <= split)
    BloomTable.create(b0, path, keys = Seq("user_id"), precombine = "ts_us",
      tieBreak = Seq("event_id"), numFiles = 8)
    val ck = BloomTable.latestCommit(path)
    assert(BloomTable.changedSince(spark, path, ck).count() == 0)
    // an upsert window composes as a file-add feed: every row written
    // since the checkpoint flows (rewritten files' survivors included),
    // so a keyed downstream converges by upserting the feed
    val b1 = ev.filter(col("ts_us") > split)
    BloomTable.upsertInto(spark, path, b1)
    val feed = BloomTable.changedSince(spark, path, ck)
    // the batch is precombined before the write, so what must flow is
    // every touched user's CURRENT row
    val want = HudiLike.precombineLatest(b0.unionByName(b1),
      Seq("user_id"), "ts_us", Seq("event_id"))
      .join(b1.select("user_id").distinct(), Seq("user_id"), "left_semi")
    assert(want.exceptAll(feed.select(want.columns.map(col): _*)).isEmpty,
      "every touched user's current row must flow")
    // a delete commit inside the window: the feed cannot express it —
    // loud failure, and a re-sync'd checkpoint pulls cleanly again
    val ck2 = BloomTable.latestCommit(path)
    BloomTable.deleteFrom(spark, path,
      b0.select("user_id").distinct().limit(1))
    val e = intercept[IllegalArgumentException] {
      BloomTable.changedSince(spark, path, ck2)
    }
    assert(e.getMessage.contains("re-sync"), e.getMessage)
    assert(BloomTable.changedSince(spark, path,
      BloomTable.latestCommit(path)).count() == 0)
    // a future cursor is rejected
    val e2 = intercept[IllegalArgumentException] {
      BloomTable.changedSince(spark, path, 99L)
    }
    assert(e2.getMessage.contains("past the commit head"))
  }

  test("a dirless pure-retirement delete never reissues its commit number") {
    import spark.implicits._
    val path = scratch()
    // two key-disjoint files so deleting one file's keys retires it
    // wholesale: that commit writes NO c=N dir
    BloomTable.create((1L to 40L).map(k => (k, 1L, k.toDouble))
      .toDF("user_id", "ts_us", "value"),
      path, keys = Seq("user_id"), precombine = "ts_us", numFiles = 2)
    // bootstrap symmetry with the bucket layout: cursor 0 = everything
    assert(BloomTable.latestCommit(path) == 1L)
    assert(BloomTable.changedSince(spark, path, 0L).count() == 40L)
    BloomTable.deleteFrom(spark, path,
      (1L to 20L).map(k => (k, 2L)).toDF("user_id", "ts_us"))
    val checkpoint = BloomTable.latestCommit(path)
    assert(checkpoint == 2L)
    // the next write MUST take a fresh number — reissuing it would make
    // a cursor at the delete silently skip this commit's files
    BloomTable.upsertInto(spark, path,
      Seq((100L, 3L, 100.0)).toDF("user_id", "ts_us", "value"))
    assert(BloomTable.latestCommit(path) == 3L)
    assert(BloomTable.commitLog(path).map(_._1) == Seq(1L, 2L, 3L))
    assert(BloomTable.changedSince(spark, path, checkpoint)
      .select("user_id").as[Long].collect().toSet.contains(100L),
      "the post-retirement commit must flow to a cursor at the delete")
  }

  test("key-local batch rewrites only the files owning those keys") {
    val path = scratch()
    BloomTable.create(ev.filter(col("ts_us") <= split), path,
      keys = Seq("user_id"), precombine = "ts_us",
      tieBreak = Seq("event_id"), numFiles = 8)
    val before = BloomTable.manifest(path)
    assert(before.size == 8)
    // sf0.001 has 15 users over 8 range-clustered files → users 0-1
    // live in one file (maybe two at a boundary)
    val touched = BloomTable.upsertInto(spark, path,
      ev.filter(col("ts_us") > split && col("user_id") <= 1))
    assert(touched.nonEmpty && touched.size <= 2,
      s"key-local batch must touch at most 2 of 8 files, rewrote $touched")
    val after = BloomTable.manifest(path)
    val untouched = before.filterNot(touched.contains)
    assert(untouched.forall(after.contains),
      "files the batch did not match must stay live, byte-identical")
  }

  test("bloom rejects absent keys inside an overlapping range → pure append") {
    val path = scratch()
    // base holds EVEN keys 0..98: every odd key is inside [0,98] (range
    // check alone cannot prune) but definitely absent (bloom can)
    val base = spark.range(50).select(
      (col("id") * 2).as("k"), lit("base").as("src"), col("id").as("seq"))
    BloomTable.create(base, path, keys = Seq("k"), precombine = "seq",
      numFiles = 2)
    val before = BloomTable.manifest(path)
    val odd = spark.range(5).select(
      (col("id") * 2 + 1).as("k"), lit("new").as("src"), (col("id") + 100).as("seq"))
    val touched = BloomTable.upsertInto(spark, path, odd)
    assert(touched.isEmpty,
      s"all-absent keys must append without rewriting any file, rewrote $touched")
    val after = BloomTable.manifest(path)
    assert(before.forall(after.contains), "append must keep every old file live")
    assert(after.size > before.size, "append must add new files")
    assert(BloomTable.read(spark, path).count() == 55)
  }

  test("lookup reads only the candidate file(s)") {
    val path = scratch()
    BloomTable.create(ev.filter(col("ts_us") <= split), path,
      keys = Seq("user_id"), precombine = "ts_us",
      tieBreak = Seq("event_id"), numFiles = 8)
    val row = BloomTable.lookup(spark, path, Seq(7L))
    assert(row.count() == 1)
    val filesRead = row.inputFiles.length
    assert(filesRead <= 2,
      s"point lookup must plan at most 2 of 8 files, planned $filesRead")
    assert(row.head().getAs[Long]("user_id") == 7L)
  }

  test("compaction re-levels to numFiles and clean removes retired files") {
    val path = scratch()
    BloomTable.create(ev.filter(col("ts_us") <= split), path,
      keys = Seq("user_id"), precombine = "ts_us",
      tieBreak = Seq("event_id"), numFiles = 4)
    BloomTable.upsertInto(spark, path, ev.filter(col("ts_us") > split))
    val want = BloomTable.read(spark, path).collect().toSet
    BloomTable.compact(spark, path)
    assert(BloomTable.manifest(path).size == 4)
    val removed = BloomTable.clean(path)
    assert(removed.nonEmpty, "clean after compact must reclaim retired files")
    val got = BloomTable.read(spark, path).collect().toSet
    assert(got == want, "compaction + clean must not change contents")
  }

  test("index lagging the manifest (crash between swaps) self-heals") {
    val path = scratch()
    BloomTable.create(ev.filter(col("ts_us") <= split), path,
      keys = Seq("user_id"), precombine = "ts_us",
      tieBreak = Seq("event_id"), numFiles = 4)
    BloomTable.upsertInto(spark, path,
      ev.filter(col("ts_us") > split && col("user_id") <= 5))
    // simulate the crash: manifest is current, but the index pointer
    // still names the CREATE-time version (v0 is still on disk)
    Files.writeString(Paths.get(path, "_index", "_latest"), "0")
    // keys 0-5 now live in commit-1 files the stale index has no rows
    // for — reconcile must scan them, or this upsert would misroute
    BloomTable.upsertInto(spark, path,
      ev.filter(col("ts_us") > split && col("user_id") > 5))
    val got = BloomTable.read(spark, path)
    val want = HudiLike.precombineLatest(ev, Seq("user_id"), "ts_us", Seq("event_id"))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("delete rewrites only the files holding the keys") {
    val path = scratch()
    BloomTable.create(ev, path, keys = Seq("user_id"), precombine = "ts_us",
      tieBreak = Seq("event_id"), numFiles = 8)
    val before = BloomTable.manifest(path)
    val touched = BloomTable.deleteFrom(spark, path,
      spark.range(2).select(col("id").as("user_id")))
    assert(touched.nonEmpty && touched.size <= 2,
      s"deleting users 0-1 must rewrite at most 2 of 8 files, rewrote $touched")
    val after = BloomTable.manifest(path)
    assert(before.filterNot(touched.contains).forall(after.contains))
    val got = BloomTable.read(spark, path)
    assert(got.filter(col("user_id") < 2).count() == 0)
    val want = HudiLike.precombineLatest(ev, Seq("user_id"), "ts_us",
      Seq("event_id")).filter(col("user_id") >= 2)
    assert(got.count() == want.count())
  }

  test("deleting bloom-absent keys is free; emptying a file's keys retires it") {
    val path = scratch()
    val base = spark.range(50).select(
      (col("id") * 2).as("k"), lit("base").as("src"), col("id").as("seq"))
    BloomTable.create(base, path, keys = Seq("k"), precombine = "seq",
      numFiles = 2)
    // odd keys: inside file0's [0,48] range but bloom-absent → no-op
    val absent = BloomTable.deleteFrom(spark, path,
      spark.range(5).select((col("id") * 2 + 1).as("k")))
    assert(absent.isEmpty, s"bloom-absent deletes must touch nothing: $absent")
    // delete ALL of file0's keys → pure retirement, no replacement file
    val before = BloomTable.manifest(path)
    val touched = BloomTable.deleteFrom(spark, path,
      spark.range(25).select((col("id") * 2).as("k")))
    assert(touched.size == 1)
    val after = BloomTable.manifest(path)
    assert(after.size == before.size - 1,
      s"an emptied file must retire without a replacement: $before -> $after")
    assert(BloomTable.read(spark, path).count() == 25)
    assert(BloomTable.lookup(spark, path, Seq(0L)).count() == 0)
  }

  test("AutoSize derives per-file filter bits from the measured cardinality") {
    val path = scratch()
    val base = spark.range(50).select(
      (col("id") * 2).as("k"), lit("base").as("src"), col("id").as("seq"))
    BloomTable.create(base, path, keys = Seq("k"), precombine = "seq",
      mBits = BloomTable.AutoSize, numFiles = 2)
    val sized = BloomTable.props(path).mBits
    assert(sized == graft.functions.BloomAggregator.sizeFor(25),
      s"expected sizeFor(ceil(50/2)) bits, got $sized")
    // at the optimal-m sizing fp ≈ 2^-K ≈ 6% per probe, so absent keys
    // may false-positive a file (costing only its rewrite) — assert
    // correctness, and that tagging still prunes past the range check
    // (≤1 of the 2 files can match 5 probes only via fp, never both on
    // the range alone, since odd keys overlap just file0's [0,48])
    val touched = BloomTable.upsertInto(spark, path,
      spark.range(5).select((col("id") * 2 + 1).as("k"),
        lit("new").as("src"), (col("id") + 100).as("seq")))
    assert(touched.size <= 1,
      s"only file0's range overlaps the odd probes, got $touched")
    assert(BloomTable.read(spark, path).count() == 55)
  }

  test("schema evolution survives bloom-routed merges across commits") {
    val path = scratch()
    val base = spark.range(20).select(col("id").as("k"),
      lit(0L).as("pc"), (col("id") * 1.0).as("v"))
    BloomTable.create(base, path, keys = Seq("k"), precombine = "pc",
      numFiles = 2)
    // commit 1 ADDS a column for keys 0-4 (schema-on-read evolution)
    BloomTable.upsertInto(spark, path, spark.range(5).select(
      col("id").as("k"), lit(1L).as("pc"), (col("id") * 1.0).as("v"),
      concat(lit("e"), col("id")).as("extra")))
    // commit 2 touches BOTH an evolved file (key 0) and a create-time
    // file (key 15): the merge reads across commits with different
    // schemas — a flat multi-file read would take the OLDER footer's
    // schema and silently drop `extra` from the rewritten region
    BloomTable.upsertInto(spark, path, spark.createDataFrame(Seq(
      (0L, 2L, 0.5), (15L, 2L, 1.5))).toDF("k", "pc", "v"))
    val got = BloomTable.read(spark, path)
    assert(got.columns.contains("extra"))
    // untouched evolved rows keep their values through the rewrite
    assert(got.filter(col("k") === 1).head().getAs[String]("extra") == "e1")
    // rows replaced by the extra-less batch read null there
    assert(got.filter(col("k") === 0).head().getAs[String]("extra") == null)
    assert(got.count() == 20)
  }

  test("maybeCompact fires only past the live-file limit and re-levels") {
    val path = scratch()
    val base = spark.range(20).select(col("id").as("k"),
      lit(0L).as("pc"), (col("id") * 1.0).as("v"))
    BloomTable.create(base, path, keys = Seq("k"), precombine = "pc",
      numFiles = 2)
    // trickle appends of brand-new keys: each is a pure-append commit
    // adding one file
    (1 to 5).foreach { i =>
      BloomTable.upsertInto(spark, path, spark.range(3).select(
        (col("id") + 100 * i).as("k"), lit(i.toLong).as("pc"),
        (col("id") * 1.0).as("v")))
    }
    assert(BloomTable.manifest(path).size == 7)
    assert(BloomTable.maybeCompact(spark, path, maxLiveFiles = 8).isEmpty,
      "below the limit nothing should compact")
    val want = BloomTable.read(spark, path).collect().toSet
    assert(BloomTable.maybeCompact(spark, path).nonEmpty,
      "7 files > 3×numFiles=6 must trigger the default-limit compaction")
    assert(BloomTable.manifest(path).size == 2)
    assert(BloomTable.read(spark, path).collect().toSet == want)
  }

  test("a held writer lock fails mutators loudly; a stale lock is stolen") {
    val path = scratch()
    val base = spark.range(10).select(col("id").as("k"),
      lit(0L).as("pc"), (col("id") * 1.0).as("v"))
    BloomTable.create(base, path, keys = Seq("k"), precombine = "pc",
      numFiles = 2)
    val batch = spark.range(3).select((col("id") + 100).as("k"),
      lit(1L).as("pc"), (col("id") * 1.0).as("v"))
    // another writer holds the lock → fail loudly, table unchanged
    Files.writeString(Paths.get(path, "_lock"),
      System.currentTimeMillis().toString)
    val before = BloomTable.manifest(path)
    intercept[java.util.ConcurrentModificationException] {
      BloomTable.upsertInto(spark, path, batch)
    }
    assert(BloomTable.manifest(path) == before, "failed writer must not commit")
    // a lock older than the expiry is a dead writer's: steal and
    // proceed (staleness is judged by the lock file's MTIME — atomic
    // with creation — never by content, which has read windows)
    Files.setLastModifiedTime(Paths.get(path, "_lock"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - graft.etl.FsLock.LockExpiryMs - 1000))
    BloomTable.upsertInto(spark, path, batch)
    assert(BloomTable.read(spark, path).count() == 13)
    assert(!Files.exists(Paths.get(path, "_lock")), "lock must release")
  }

  test("versioned reads: any commit's file set folds back out of the log") {
    val path = scratch()
    def rows(t: (Long, Long, Double)*) = t.toSeq.toDF("k", "pc", "v")
    BloomTable.create(rows((1L, 1L, 1.0), (2L, 1L, 2.0), (3L, 1L, 3.0),
      (4L, 1L, 4.0)), path, keys = Seq("k"), precombine = "pc",
      numFiles = 2)                                            // commit 1
    BloomTable.upsertInto(spark, path, rows((2L, 2L, 12.0)))   // commit 2
    BloomTable.deleteFrom(spark, path, Seq(3L).toDF("k"))      // commit 3
    def asOf(c: Long): Map[Long, Double] =
      BloomTable.readVersion(spark, path, c)
        .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(asOf(1L) == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0, 4L -> 4.0))
    assert(asOf(2L) == Map(1L -> 1.0, 2L -> 12.0, 3L -> 3.0, 4L -> 4.0))
    assert(asOf(3L) == Map(1L -> 1.0, 2L -> 12.0, 4L -> 4.0))
    // head version == live read
    assert(asOf(3L) == BloomTable.read(spark, path)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap)
    // out-of-range commits are loud
    intercept[IllegalArgumentException] { asOf(0L) }
    intercept[IllegalArgumentException] { asOf(9L) }
    // KEEP_LATEST_COMMITS retention: keep=2 guarantees commits 2..3
    // stay readable across the sweep
    BloomTable.clean(path, keepVersions = 2)
    assert(asOf(2L) == Map(1L -> 1.0, 2L -> 12.0, 3L -> 3.0, 4L -> 4.0))
    assert(asOf(3L) == Map(1L -> 1.0, 2L -> 12.0, 4L -> 4.0))
    // a legacy delta-less line inside the range refuses loudly rather
    // than reconstruct a wrong snapshot (pre-upgrade table simulation)
    val commits = Paths.get(path, "_commits")
    val lines = Files.readAllLines(commits)
    val legacy = lines.get(0).split(' ').take(2).mkString(" ")
    Files.writeString(commits,
      (legacy +: (1 until lines.size).map(lines.get))
        .mkString("", "\n", "\n"))
    val e = intercept[IllegalArgumentException] { asOf(2L) }
    assert(e.getMessage.contains("without file-delta info"))
  }

  test("a delete that empties the table leaves it readable at the recorded schema") {
    val path = scratch()
    def rows(t: (Long, Long, Double)*) = t.toSeq.toDF("k", "pc", "v")
    BloomTable.create(rows((1L, 1L, 1.0), (2L, 1L, 2.0)), path,
      keys = Seq("k"), precombine = "pc", numFiles = 2)
    BloomTable.deleteFrom(spark, path, Seq(1L, 2L).toDF("k"))
    assert(BloomTable.manifest(path).isEmpty)
    val snap = BloomTable.read(spark, path)
    assert(snap.columns.toSeq == Seq("k", "pc", "v") && snap.count() == 0L)
    // compact is a no-op, not an error; the next upsert revives it
    assert(BloomTable.compact(spark, path) == -1L)
    BloomTable.upsertInto(spark, path, rows((5L, 1L, 5.0)))
    assert(BloomTable.read(spark, path).as[(Long, Long, Double)]
      .collect().toSeq == Seq((5L, 1L, 5.0)))
  }

  test("empty batch is a no-op") {
    val path = scratch()
    BloomTable.create(ev.filter(col("ts_us") <= split), path,
      keys = Seq("user_id"), precombine = "ts_us",
      tieBreak = Seq("event_id"), numFiles = 4)
    val before = BloomTable.manifest(path)
    assert(BloomTable.upsertInto(spark, path, ev.limit(0)).isEmpty)
    assert(BloomTable.manifest(path) == before)
  }

  test("a phantom bloom commit line refuses history loudly; compaction resets") {
    val path = scratch()
    def rows(t: (Long, Long, Double)*) = t.toSeq.toDF("k", "pc", "v")
    BloomTable.create(rows((1L, 1L, 1.0), (2L, 1L, 2.0)), path,
      keys = Seq("k"), precombine = "pc", numFiles = 2)
    // a line whose manifest swing never happened (phantom +file)
    Files.writeString(Paths.get(path, "_commits"),
      s"2 write +c=2/part-phantom.parquet ts=${System.currentTimeMillis()}\n",
      java.nio.file.StandardOpenOption.APPEND)
    val e = intercept[IllegalArgumentException] {
      BloomTable.readVersion(spark, path, 1L)
    }
    assert(e.getMessage.contains("does not fold to the live manifest"))
    // the compacting commit is a RESET in the fold — history serves again
    BloomTable.compact(spark, path)
    assert(BloomTable.readVersion(spark, path,
      BloomTable.latestCommit(path)).count() == 2L)
  }

  test("file-level OCC: disjoint writers from one stale manifest both commit; overlaps conflict") {
    val path = scratch()
    // 64 keys range-clustered into 8 files: file boundaries are key
    // ranges, so candidate-set disjointness is deterministic (range
    // checks, no bloom-fp dependence)
    val df0 = (1 to 64).map(i => (i.toLong, 1L, i.toDouble)).toDF("k", "pc", "v")
    BloomTable.create(df0, path, keys = Seq("k"), precombine = "pc",
      numFiles = 8)
    val m0 = BloomTable.manifest(path)
    val a = (1 to 8).map(i => (i.toLong, 2L, -1.0)).toDF("k", "pc", "v")
    val b = (57 to 64).map(i => (i.toLong, 2L, -2.0)).toDF("k", "pc", "v")
    // A commits; B holds the SAME stale manifest but touches disjoint
    // candidate files (and A's added files cannot hold B's keys) — both
    // commit, Hudi's file-group-level conflict granularity
    assert(BloomTable.attemptOccFrom(spark, path, a, m0).isDefined)
    assert(BloomTable.attemptOccFrom(spark, path, b, m0).isDefined)
    // C from the same stale view touches files A re-pointed — loud
    val c = (1 to 8).map(i => (i.toLong, 3L, -3.0)).toDF("k", "pc", "v")
    assert(BloomTable.attemptOccFrom(spark, path, c, m0).isEmpty)
    // pure-append aliasing: D appends a brand-new key; E, staged against
    // the pre-D manifest, appends the SAME key — without the added-file
    // probe both would commit and leave two live versions
    val m1 = BloomTable.manifest(path)
    assert(BloomTable.attemptOccFrom(spark, path,
      Seq((1000L, 1L, 1.0)).toDF("k", "pc", "v"), m1).isDefined)
    assert(BloomTable.attemptOccFrom(spark, path,
      Seq((1000L, 2L, 2.0)).toDF("k", "pc", "v"), m1).isEmpty)
    // the retry front door converges the loser
    BloomTable.upsertIntoOcc(spark, path,
      Seq((1000L, 2L, 2.0)).toDF("k", "pc", "v"))
    val want = HudiLike.precombineLatest(
      df0.unionByName(a).unionByName(b)
        .unionByName(Seq((1000L, 1L, 1.0), (1000L, 2L, 2.0)).toDF("k", "pc", "v")),
      Seq("k"), "pc", Nil)
    val got = BloomTable.read(spark, path)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the lock hold is metadata-only: the committed attempt's critical
    // section constructed ZERO data-file reads (CDC image and index
    // rows were materialized from the immutable staged files before
    // the lock) — timing-free I/O-shape assertion
    assert(BloomTable.lastOccInLockDataScans == 0L,
      s"OCC critical section did ${BloomTable.lastOccInLockDataScans} " +
        "data-file scan(s) — the lock hold must be metadata-only")
    // and the precomputed CDC image is the image the commit publishes:
    // enable CDC, OCC-commit an update+insert, read the images back
    BloomTable.enableCdc(path)
    val cdcHead = BloomTable.latestCommit(path)
    BloomTable.upsertIntoOcc(spark, path,
      Seq((1L, 9L, 99.0), (2000L, 1L, 5.0)).toDF("k", "pc", "v"))
    assert(BloomTable.lastOccInLockDataScans == 0L)
    val imgs = BloomTable.changesCdc(spark, path, cdcHead)
      .select("_op", "k").collect().map(r => (r.getString(0), r.getLong(1)))
      .toSet
    assert(imgs == Set(("u", 1L), ("i", 2000L)),
      s"unexpected CDC images: $imgs")
    // conflicted attempts remove their own staged dirs; a CRASHED
    // writer's dir (mtime past the lock queue wait) is debris the
    // clean sweep reclaims — but a FRESH dir is an IN-FLIGHT writer
    // between its stage write and its in-lock rename, and clean must
    // leave it alone (the age gate)
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(path))
      .iterator().asScala.map(_.getFileName.toString)
      .count(_.startsWith("_staged-occ")) == 0)
    val crashed = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path, "_staged-occ99"))
    java.nio.file.Files.setLastModifiedTime(crashed,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - FsLock.QueueWaitMs - 60000L))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path, "_staged-occ100"))
    BloomTable.clean(path)
    val left = java.nio.file.Files.list(java.nio.file.Paths.get(path))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("_staged-occ")).toSeq
    assert(left == Seq("_staged-occ100"))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(path, "_staged-occ100"))
  }

  test("savepoint pins files through clean; read/restore; bound-index restore refused") {
    val path = scratch()
    val pre = ev.filter(col("ts_us") <= split)
    BloomTable.create(pre, path, keys = Seq("user_id"), precombine = "ts_us",
      tieBreak = Seq("event_id"), numFiles = 8)
    val pinned = BloomTable.read(spark, path).localCheckpoint()
    BloomTable.savepoint(path, "pin")
    assert(BloomTable.savepoints(path) == Seq("pin"))
    // a name containing 'tmp' is a LEGAL savepoint name and must be
    // listed (and therefore pinned by clean) — staging files live
    // outside the name alphabet, not behind a substring filter
    BloomTable.savepoint(path, "tmp1")
    assert(BloomTable.savepoints(path) == Seq("pin", "tmp1"))
    BloomTable.upsertInto(spark, path, ev.filter(col("ts_us") > split))
    // clean reclaims superseded UNPINNED state but every pinned file
    // survives — read_savepoint still resolves bit-for-bit, including
    // through the tmp-named pin
    BloomTable.clean(path)
    val asOf = BloomTable.readSavepoint(spark, path, "pin")
    assert(asOf.exceptAll(pinned).isEmpty && pinned.exceptAll(asOf).isEmpty)
    val asOfTmp = BloomTable.readSavepoint(spark, path, "tmp1")
    assert(asOfTmp.exceptAll(pinned).isEmpty &&
      pinned.exceptAll(asOfTmp).isEmpty)
    BloomTable.dropSavepoint(path, "tmp1")
    BloomTable.restoreSavepoint(spark, path, "pin")
    val got = BloomTable.read(spark, path)
    assert(got.exceptAll(pinned).isEmpty && pinned.exceptAll(got).isEmpty)
    // an incremental window spanning the restore fails loudly (rows
    // vanished with no file-ADD to express it)
    intercept[IllegalArgumentException] {
      BloomTable.changedSince(spark, path, 1L).collect()
    }
    // post-restore writes still work; the index rebuilt over pinned files
    BloomTable.upsertInto(spark, path, ev.filter(col("ts_us") > split))
    BloomTable.dropSavepoint(path, "pin")
    assert(BloomTable.savepoints(path).isEmpty)
    // a savepointed table with a bound secondary index refuses restore
    val path2 = scratch()
    val df2 = (1 to 8).map(i => (i.toLong, 1L, s"s${i % 2}")).toDF("k", "pc", "st")
    BloomTable.create(df2, path2, keys = Seq("k"), precombine = "pc", numFiles = 2)
    BloomTable.savepoint(path2, "pin")
    SecondaryIndex.createBloom(spark, path2, path2 + "_idx", Seq("st"))
    intercept[IllegalArgumentException] {
      BloomTable.restoreSavepoint(spark, path2, "pin")
    }
  }

  test("metadata-only bootstrap: in-place serve, migrate-on-rewrite, duplicates refused") {
    val dir = Files.createTempDirectory("bboot")
    val srcDir = dir.toString + "/lake"
    val path = dir.toString + "/t"
    val df0 = (1 to 64).map(i => (i.toLong, 1L, i.toDouble)).toDF("k", "pc", "v")
    df0.repartitionByRange(4, col("k")).write.parquet(srcDir)
    BloomTable.bootstrap(spark, srcDir, path, keys = Seq("k"), precombine = "pc")
    // metadata only: no data dirs under the table, every manifest entry external
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(path))
      .iterator().asScala.map(_.getFileName.toString)
      .count(_.startsWith("c=")) == 0)
    assert(BloomTable.manifest(path).forall(_.startsWith("/")))
    val got0 = BloomTable.read(spark, path)
    assert(got0.exceptAll(df0).isEmpty && df0.exceptAll(got0).isEmpty)
    // a keyed upsert migrates ONLY the touched source files into owned
    // c=N files; the untouched source files keep serving in place
    BloomTable.upsertInto(spark, path,
      (1 to 8).map(i => (i.toLong, 2L, -1.0)).toDF("k", "pc", "v"))
    val m = BloomTable.manifest(path)
    assert(m.exists(_.startsWith("c=")) && m.exists(_.startsWith("/")),
      s"expected mixed owned+external manifest, got: ${m.mkString(",")}")
    val want = HudiLike.precombineLatest(
      df0.unionByName((1 to 8).map(i => (i.toLong, 2L, -1.0)).toDF("k", "pc", "v")),
      Seq("k"), "pc", Nil)
    val got = BloomTable.read(spark, path)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // a keyed point lookup tags candidate files through the bootstrap index
    assert(BloomTable.lookup(spark, path, Seq(33L)).count() == 1)
    // the source dir was never mutated
    assert(spark.read.parquet(srcDir).count() == 64)
    // duplicate-keyed sources are refused loudly (a CoW union cannot
    // resolve them)
    val dupDir = dir.toString + "/dup"
    df0.unionByName(df0.limit(4)).write.parquet(dupDir)
    val e = intercept[IllegalArgumentException] {
      BloomTable.bootstrap(spark, dupDir, dir.toString + "/t2",
        keys = Seq("k"), precombine = "pc")
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("savepoint on a bootstrapped table pins the in-place source files") {
    val dir = Files.createTempDirectory("bbsp")
    val srcDir = dir.toString + "/lake"
    val path = dir.toString + "/t"
    val df0 = (1 to 32).map(i => (i.toLong, 1L, i.toDouble)).toDF("k", "pc", "v")
    df0.repartitionByRange(4, col("k")).write.parquet(srcDir)
    BloomTable.bootstrap(spark, srcDir, path, keys = Seq("k"), precombine = "pc")
    BloomTable.savepoint(path, "onboarded")
    // a rewrite supersedes some source files in the LIVE manifest; the
    // pin still resolves them (external files are never reclaimed, and
    // the existence check passes absolute entries through)
    BloomTable.upsertInto(spark, path,
      (1 to 8).map(i => (i.toLong, 2L, -1.0)).toDF("k", "pc", "v"))
    BloomTable.clean(path)
    val asOf = BloomTable.readSavepoint(spark, path, "onboarded")
    assert(asOf.exceptAll(df0).isEmpty && df0.exceptAll(asOf).isEmpty)
    BloomTable.restoreSavepoint(spark, path, "onboarded")
    val got = BloomTable.read(spark, path)
    assert(got.exceptAll(df0).isEmpty && df0.exceptAll(got).isEmpty)
    assert(spark.read.parquet(srcDir).count() == 32) // source never touched
  }
}
