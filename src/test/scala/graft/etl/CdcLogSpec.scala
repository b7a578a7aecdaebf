package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Row-level CDC with before/after images (Hudi 0.13
  * `hoodie.table.cdc.enabled` semantics) on the MOR and bucket
  * layouts: op ∈ {i,u,d}, exact before images for updates and deletes,
  * compaction-straddling windows, destructive-op floors, and the
  * missing-images loud path.
  */
class CdcLogSpec extends SparkSpec {
  import spark.implicits._

  private def rows(t: (String, Long, Double)*) = t.toSeq.toDF("k", "pc", "v")

  private def feed(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, String, String, Option[Double], Option[Double])] =
    df.select(col("_change_seq"), col("_op"), col("k"),
      col("_before_v"), col("_after_v"))
      .as[(Long, String, String, Option[Double], Option[Double])]
      .collect().toSeq.sortBy(r => (r._1, r._3))

  test("MOR: upsert/delete produce exact i/u/d images; no-op upserts emit nothing") {
    val dir = Files.createTempDirectory("cdcmor").toString + "/t"
    MorTable.create(rows(("a", 1L, 1.0), ("b", 1L, 2.0)), dir,
      keys = Seq("k"), precombine = "pc", cdc = true)
    // seq 1: update a (wins), insert c, stale update of b (loses: pc 0 < 1)
    MorTable.upsertInto(dir, rows(("a", 2L, 10.0), ("c", 1L, 3.0), ("b", 0L, 99.0)))
    // seq 2: delete b (tombstone outranks), delete of absent key x (no-op)
    MorTable.deleteFrom(dir, Seq(("b", 9L), ("x", 9L)).toDF("k", "pc"))
    assert(feed(MorTable.changesCdc(spark, dir, 0L)) == Seq(
      (1L, "u", "a", Some(1.0), Some(10.0)),
      (1L, "i", "c", None, Some(3.0)),
      (2L, "d", "b", Some(2.0), None)))
    // windowed pull sees only the delete
    assert(feed(MorTable.changesCdc(spark, dir, 1L)) ==
      Seq((2L, "d", "b", Some(2.0), None)))
    // the images agree with the snapshot: replaying them over the seed
    // converges (spot-check the delete victim is really gone)
    assert(MorTable.readSnapshot(spark, dir).select("k").as[String]
      .collect().toSet == Set("a", "c"))
  }

  test("MOR: images survive compaction; overwrite floors every cursor") {
    val dir = Files.createTempDirectory("cdcmor2").toString + "/t"
    MorTable.create(rows(("a", 1L, 1.0)), dir,
      keys = Seq("k"), precombine = "pc", cdc = true)
    MorTable.upsertInto(dir, rows(("b", 1L, 2.0)))  // seq 1
    MorTable.compact(spark, dir)                    // folds; delta floor = head
    MorTable.upsertInto(dir, rows(("a", 2L, 5.0)))  // seq 2
    // a cdc window straddling the compaction still serves both commits
    // (images live outside the delta log) — incrementalRead would
    // refuse this same cursor
    assert(feed(MorTable.changesCdc(spark, dir, 0L)) == Seq(
      (1L, "i", "b", None, Some(2.0)),
      (2L, "u", "a", Some(1.0), Some(5.0))))
    intercept[IllegalArgumentException] {
      MorTable.incrementalRead(spark, dir, 0L)
    }
    // overwrite = destructive: every cursor dies, the re-synced head is valid
    MorTable.overwriteTable(dir, rows(("z", 1L, 9.0)))
    val err = intercept[IllegalArgumentException] {
      MorTable.changesCdc(spark, dir, 2L)
    }
    assert(err.getMessage.contains("re-sync"))
    assert(MorTable.changesCdc(spark, dir, MorTable.changeHead(dir)).isEmpty)
  }

  test("MOR: retention removes old images and ratchets the floor first") {
    val dir = Files.createTempDirectory("cdcmor3").toString + "/t"
    MorTable.create(rows(("a", 1L, 1.0)), dir,
      keys = Seq("k"), precombine = "pc", cdc = true)
    MorTable.upsertInto(dir, rows(("b", 1L, 2.0)))  // seq 1
    MorTable.upsertInto(dir, rows(("c", 1L, 3.0)))  // seq 2
    assert(CdcLog.retain(dir, 1L) == Seq(1L))
    val err = intercept[IllegalArgumentException] {
      MorTable.changesCdc(spark, dir, 0L)
    }
    assert(err.getMessage.contains("re-sync"))
    assert(feed(MorTable.changesCdc(spark, dir, 1L)) ==
      Seq((2L, "i", "c", None, Some(3.0))))
  }

  test("bucket: create bootstraps as inserts; upsert/delete/rewrite diff exactly") {
    val dir = Files.createTempDirectory("cdcbk").toString + "/t"
    BucketTable.create(rows(("a", 1L, 1.0), ("b", 1L, 2.0)), dir,
      keys = Seq("k"), precombine = "pc", numBuckets = 4, cdc = true)
    // cursor 0 = full image bootstrap (create is commit 1, all inserts)
    assert(feed(BucketTable.changesCdc(spark, dir, 0L)) == Seq(
      (1L, "i", "a", None, Some(1.0)),
      (1L, "i", "b", None, Some(2.0))))
    // commit 2: update a (wins), insert c, stale update b (loses) —
    // the untouched-in-bucket keys and the losing upsert emit nothing
    BucketTable.upsertInto(spark, dir,
      rows(("a", 2L, 10.0), ("c", 1L, 3.0), ("b", 0L, 99.0)))
    assert(feed(BucketTable.changesCdc(spark, dir, 1L)) == Seq(
      (2L, "u", "a", Some(1.0), Some(10.0)),
      (2L, "i", "c", None, Some(3.0))))
    // commit 3: keyed delete — exact victim image, something
    // changedSince can't express (it refuses or restates)
    BucketTable.deleteFrom(spark, dir, Seq("b").toDF("k"))
    assert(feed(BucketTable.changesCdc(spark, dir, 2L)) ==
      Seq((3L, "d", "b", Some(2.0), None)))
    // commit 4: predicate rewrite (the SQL UPDATE route)
    BucketTable.rewriteWhere(spark, dir, col("v") > 5.0)(
      _.withColumn("v", col("v") * 2))
    assert(feed(BucketTable.changesCdc(spark, dir, 3L)) ==
      Seq((4L, "u", "a", Some(10.0), Some(20.0))))
    // full-window replay = composition of the per-commit diffs
    assert(feed(BucketTable.changesCdc(spark, dir, 0L)).size == 6)
    // commit 5: an OCC commit — its image is PRECOMPUTED from the
    // staged generation before the lock (the metadata-only critical
    // section), and must be byte-identical to the single-writer shape
    val ck = BucketTable.latestCommit(dir)
    BucketTable.upsertIntoOcc(spark, dir,
      rows(("a", 3L, 7.0), ("d", 1L, 4.0)))
    assert(feed(BucketTable.changesCdc(spark, dir, ck)) == Seq(
      (ck + 1, "u", "a", Some(20.0), Some(7.0)),
      (ck + 1, "i", "d", None, Some(4.0))))
  }

  test("bucket: content-preserving commits emit zero rows but keep the window exact") {
    val dir = Files.createTempDirectory("cdcbk2").toString + "/t"
    BucketTable.create(rows(("a", 1L, 1.0), ("b", 1L, 2.0)), dir,
      keys = Seq("k"), precombine = "pc", numBuckets = 2, cdc = true)
    BucketTable.rescale(spark, dir, 2)   // commit 2: restatement
    BucketTable.compact(spark, dir)      // commit 3: restatement
    BucketTable.upsertInto(spark, dir, rows(("c", 1L, 3.0))) // commit 4
    // changedSince would restate the whole table across the rescale;
    // the image feed serves exactly the one real change
    assert(feed(BucketTable.changesCdc(spark, dir, 1L)) ==
      Seq((4L, "i", "c", None, Some(3.0))))
    // every commit in the window is accounted for: removing one image
    // dir turns the pull loud, never silent
    FsUtil.deleteRecursively(Paths.get(dir, "cdc=3"))
    val err = intercept[IllegalArgumentException] {
      BucketTable.changesCdc(spark, dir, 1L)
    }
    assert(err.getMessage.contains("missing"))
  }

  test("bucket: OCC commits carry images; overwrite and restore floor the feed") {
    val dir = Files.createTempDirectory("cdcbk3").toString + "/t"
    BucketTable.create(rows(("a", 1L, 1.0)), dir,
      keys = Seq("k"), precombine = "pc", numBuckets = 2, cdc = true)
    BucketTable.upsertIntoOcc(spark, dir, rows(("b", 1L, 2.0))) // commit 2
    assert(feed(BucketTable.changesCdc(spark, dir, 1L)) ==
      Seq((2L, "i", "b", None, Some(2.0))))
    BucketTable.savepoint(dir, "sp")
    BucketTable.upsertInto(spark, dir, rows(("c", 1L, 3.0)))    // commit 3
    BucketTable.restoreSavepoint(spark, dir, "sp")              // commit 4: destructive
    val err = intercept[IllegalArgumentException] {
      BucketTable.changesCdc(spark, dir, 3L)
    }
    assert(err.getMessage.contains("re-sync"))
    // re-synced consumer is live again
    BucketTable.upsertInto(spark, dir, rows(("d", 1L, 4.0)))    // commit 5
    assert(feed(BucketTable.changesCdc(spark, dir, 4L)) ==
      Seq((5L, "i", "d", None, Some(4.0))))
  }

  test("bloom: i/u/d images exact where changedSince must refuse; restatements empty") {
    val dir = Files.createTempDirectory("cdcbl").toString + "/t"
    BloomTable.create(rows(("a", 1L, 1.0), ("b", 1L, 2.0)), dir,
      keys = Seq("k"), precombine = "pc", numFiles = 2)
    BloomTable.enableCdc(dir) // commit 1 = create; images from here on
    // commit 2: update a (wins), insert c, stale b (loses)
    BloomTable.upsertInto(spark, dir,
      rows(("a", 2L, 10.0), ("c", 1L, 3.0), ("b", 0L, 99.0)))
    assert(feed(BloomTable.changesCdc(spark, dir, 1L)) == Seq(
      (2L, "u", "a", Some(1.0), Some(10.0)),
      (2L, "i", "c", None, Some(3.0))))
    // commit 3: keyed delete — the window changedSince refuses loudly
    // (row-removing) serves exact victim images here
    BloomTable.deleteFrom(spark, dir, Seq("b").toDF("k"))
    assert(feed(BloomTable.changesCdc(spark, dir, 2L)) ==
      Seq((3L, "d", "b", Some(2.0), None)))
    intercept[IllegalArgumentException] {
      BloomTable.changedSince(spark, dir, 2L).collect()
    }
    // commit 4: compact = content-preserving, zero image rows
    BloomTable.compact(spark, dir)
    // commit 5: predicate rewrite (SQL UPDATE route)
    BloomTable.rewriteWhere(spark, dir, col("v") > 5.0)(
      _.withColumn("v", col("v") * 2))
    assert(feed(BloomTable.changesCdc(spark, dir, 3L)) ==
      Seq((5L, "u", "a", Some(10.0), Some(20.0))))
    // overwrite = destructive: floor past every cursor
    BloomTable.overwriteTable(spark, dir, rows(("z", 1L, 9.0)))
    val err = intercept[IllegalArgumentException] {
      BloomTable.changesCdc(spark, dir, 5L)
    }
    assert(err.getMessage.contains("re-sync"))
  }

  test("partitioned: delta-route images chain across compaction; CoW writes floor") {
    val dir = Files.createTempDirectory("cdcpt").toString + "/t"
    def prows(t: (String, String, Long, Double)*) =
      t.toSeq.toDF("day", "k", "pc", "v")
    PartitionedTable.create(
      prows(("d1", "a", 1L, 1.0), ("d2", "b", 1L, 2.0)), dir,
      keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    PartitionedTable.enableCdc(dir)
    // seq 1: update a (wins), insert c into d2, stale b (loses)
    PartitionedTable.upsertDelta(spark, dir,
      prows(("d1", "a", 2L, 10.0), ("d2", "c", 1L, 3.0), ("d2", "b", 0L, 99.0)))
    // seq 2: tombstone b
    PartitionedTable.deleteDelta(spark, dir,
      Seq(("d2", "b", 9L)).toDF("day", "k", "pc"))
    def pfeed(since: Long) =
      PartitionedTable.changesCdc(spark, dir, since)
        .select(col("_change_seq"), col("_op"), col("day"), col("k"),
          col("_before_v"), col("_after_v"))
        .as[(Long, String, String, String, Option[Double], Option[Double])]
        .collect().toSeq.sortBy(r => (r._1, r._4))
    assert(pfeed(0L) == Seq(
      (1L, "u", "d1", "a", Some(1.0), Some(10.0)),
      (1L, "i", "d2", "c", None, Some(3.0)),
      (2L, "d", "d2", "b", Some(2.0), None)))
    // images straddle compactDeltas (which truncates the post-image feed)
    PartitionedTable.compactDeltas(spark, dir)
    PartitionedTable.upsertDelta(spark, dir, prows(("d1", "a", 3L, 5.0)))
    assert(pfeed(0L).size == 4)
    intercept[IllegalArgumentException] {
      PartitionedTable.changesSince(spark, dir, 0L).collect()
    }
    // a CoW upsert has no change seq — the image feed dies loudly, and
    // the re-synced head (= the ratcheted floor) is valid and empty
    PartitionedTable.upsertInto(spark, dir, prows(("d1", "x", 1L, 7.0)))
    val err = intercept[IllegalArgumentException] { pfeed(3L) }
    assert(err.getMessage.contains("re-sync"))
    val head = math.max(PartitionedTable.changeHead(dir), CdcLog.floor(dir))
    assert(PartitionedTable.changesCdc(spark, dir, head).isEmpty)
    // and the NEXT delta commit allocates past the ratcheted floor —
    // its images land in the re-synced consumer's window
    PartitionedTable.upsertDelta(spark, dir, prows(("d2", "n", 1L, 8.0)))
    assert(PartitionedTable.changesCdc(spark, dir, head)
      .select(col("k")).as[String].collect().toSeq == Seq("n"))
  }

  test("mid-life enablement serves only post-enable commits, loudly below") {
    val dir = Files.createTempDirectory("cdcbk4").toString + "/t"
    BucketTable.create(rows(("a", 1L, 1.0)), dir,
      keys = Seq("k"), precombine = "pc", numBuckets = 2)
    BucketTable.upsertInto(spark, dir, rows(("b", 1L, 2.0))) // commit 2, no cdc
    BucketTable.enableCdc(dir)                               // floor = 2
    BucketTable.upsertInto(spark, dir, rows(("c", 1L, 3.0))) // commit 3
    val err = intercept[IllegalArgumentException] {
      BucketTable.changesCdc(spark, dir, 0L)
    }
    assert(err.getMessage.contains("re-sync"))
    assert(feed(BucketTable.changesCdc(spark, dir, 2L)) ==
      Seq((3L, "i", "c", None, Some(3.0))))
  }
}
