package graft.etl

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class BucketTableSpec extends SparkSpec {
  import spark.implicits._

  private def rows(t: (String, Long, Double)*) = t.toSeq.toDF("k", "pc", "v")

  private def contents(dir: String): Seq[(String, Long, Double)] =
    BucketTable.read(spark, dir).as[(String, Long, Double)]
      .collect().toSeq.sortBy(_._1)

  /** Every data file under the table with its mtime+size. */
  private def dataFiles(dir: String): Set[(String, Any, Long)] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => (p.toString, Files.getLastModifiedTime(p), Files.size(p)))
      .toSet

  test("savepoint pins generations against clean; restore rolls back; drop unpins") {
    val dir = Files.createTempDirectory("bucket").toString + "/t"
    BucketTable.create(rows(("a", 1L, 1.0), ("b", 1L, 2.0)), dir,
      keys = Seq("k"), precombine = "pc", numBuckets = 4)
    BucketTable.savepoint(dir, "before-load")
    BucketTable.upsertInto(spark, dir, rows(("a", 2L, 9.0), ("c", 1L, 3.0)))
    val afterLoad = contents(dir)

    // clean must NOT reclaim the superseded generation: the savepoint
    // still references it
    val removed = BucketTable.clean(dir)
    assert(removed.isEmpty, s"clean reclaimed savepointed generations: $removed")
    // time travel to the pinned state without touching the live table
    assert(BucketTable.readSavepoint(spark, dir, "before-load")
      .as[(String, Long, Double)].collect().toSeq.sortBy(_._1) ==
      Seq(("a", 1L, 1.0), ("b", 1L, 2.0)))
    assert(contents(dir) == afterLoad)

    // restore = roll the live manifest back; post-savepoint generations
    // become debris that clean reclaims
    BucketTable.restoreSavepoint(spark, dir, "before-load")
    assert(contents(dir) == Seq(("a", 1L, 1.0), ("b", 1L, 2.0)))
    assert(BucketTable.clean(dir).nonEmpty)
    assert(contents(dir) == Seq(("a", 1L, 1.0), ("b", 1L, 2.0)))

    // dropping the savepoint unpins nothing still live (manifest refs it)
    BucketTable.dropSavepoint(dir, "before-load")
    assert(BucketTable.savepoints(dir).isEmpty)
    assert(BucketTable.clean(dir).isEmpty)
    assert(contents(dir) == Seq(("a", 1L, 1.0), ("b", 1L, 2.0)))
  }

  test("restore-then-write never reuses a generation a later savepoint pins") {
    val dir = Files.createTempDirectory("bucket").toString + "/t"
    BucketTable.create(rows(("a", 1L, 1.0)), dir,
      keys = Seq("k"), precombine = "pc", numBuckets = 4)
    BucketTable.savepoint(dir, "s1")
    BucketTable.upsertInto(spark, dir, rows(("a", 2L, 9.0))) // gen 1
    BucketTable.savepoint(dir, "s2")
    BucketTable.restoreSavepoint(spark, dir, "s1")
    // next write must allocate past s2's pinned gen 1, not collide
    BucketTable.upsertInto(spark, dir, rows(("b", 1L, 2.0)))
    assert(BucketTable.readSavepoint(spark, dir, "s2")
      .as[(String, Long, Double)].collect().toSeq.sortBy(_._1) ==
      Seq(("a", 2L, 9.0)),
      "post-restore write corrupted the later savepoint")
    assert(contents(dir) == Seq(("a", 1L, 1.0), ("b", 1L, 2.0)))
  }

  test("upsert merges keys and rewrites only touched buckets") {
    val dir = Files.createTempDirectory("bucket").toString + "/t"
    val base = (1 to 64).map(i => (s"k$i", 1L, i.toDouble))
    BucketTable.create(rows(base: _*), dir, keys = Seq("k"), precombine = "pc",
      numBuckets = 16)
    val gen0 = dataFiles(dir)
    // clustered write: one parquet file per bucket dir, not one per
    // (input task x bucket)
    val filesPerBucket = gen0.toSeq.map(_._1)
      .groupBy(p => p.split("__bucket=")(1).split('/').head)
    assert(filesPerBucket.values.forall(_.size == 1),
      s"expected one file per bucket, got ${filesPerBucket.view.mapValues(_.size).toMap}")

    // one updated key + one new key → at most 2 of 16 buckets rewritten
    val touched = BucketTable.upsertInto(spark, dir,
      rows(("k7", 2L, 700.0), ("new1", 1L, -1.0)))
    assert(touched.size <= 2, s"expected <=2 touched buckets, got $touched")

    val expected = (base.filterNot(_._1 == "k7") ++
      Seq(("k7", 2L, 700.0), ("new1", 1L, -1.0))).sortBy(_._1)
    assert(contents(dir) == expected)

    // untouched buckets keep their exact gen=0 files
    val untouchedGen0 = gen0.filterNot { case (p, _, _) =>
      touched.exists(b => p.contains(s"__bucket=$b/")) }
    assert(untouchedGen0.subsetOf(dataFiles(dir)),
      "untouched buckets' gen=0 files must survive an upsert byte-for-byte")
    // and the manifest points the untouched buckets at gen 0 still
    val m = BucketTable.manifest(dir)
    assert(m.count(_._2 == 1L) == touched.size)
  }

  test("precombine keeps the latest row per key within and across commits") {
    val dir = Files.createTempDirectory("bucket").toString + "/t"
    BucketTable.create(rows(("a", 5L, 1.0)), dir, Seq("k"), "pc", numBuckets = 4)
    BucketTable.upsertInto(spark, dir, rows(("a", 3L, 2.0))) // stale: loses
    assert(contents(dir) == Seq(("a", 5L, 1.0)))
    BucketTable.upsertInto(spark, dir, rows(("a", 9L, 3.0), ("a", 7L, 4.0)))
    assert(contents(dir) == Seq(("a", 9L, 3.0)))
  }

  test("point lookup reads only the key's bucket") {
    val dir = Files.createTempDirectory("bucket").toString + "/t"
    BucketTable.create(rows((1 to 64).map(i => (s"k$i", 1L, i.toDouble)): _*),
      dir, Seq("k"), "pc", numBuckets = 16)
    val res = BucketTable.lookup(spark, dir, Seq("k7"))
    assert(res.as[(String, Long, Double)].collect().toSeq ==
      Seq(("k7", 1L, 7.0)))
    // the scan must touch exactly one bucket directory of the 16
    val bucketsTouched = res.inputFiles.toSeq
      .map(f => f.split("__bucket=")(1).split('/').head).distinct
    assert(bucketsTouched.size == 1,
      s"lookup read ${bucketsTouched.size} buckets: $bucketsTouched")
    // and a missing key still scans one bucket, returning nothing
    assert(BucketTable.lookup(spark, dir, Seq("nope")).count() == 0)
  }

  test("schema-evolving upsert: new column reads as null on untouched generations") {
    val dir = Files.createTempDirectory("bucket").toString + "/t"
    BucketTable.create(rows((1 to 32).map(i => (s"k$i", 1L, i.toDouble)): _*),
      dir, Seq("k"), "pc", numBuckets = 8)
    // the batch carries an extra column; only its buckets rewrite, so
    // the table ends up with mixed-schema generations
    val evolved = Seq(("k1", 2L, 10.0, "tagged")).toDF("k", "pc", "v", "tag")
    BucketTable.upsertInto(spark, dir, evolved)
    val all = BucketTable.read(spark, dir)
      .select("k", "pc", "v", "tag")
      .as[(String, Long, Double, Option[String])].collect()
      .map(r => r._1 -> r).toMap
    assert(all("k1")._4 == Some("tagged"))
    assert(all("k2")._4 == None, "old generations read the new column as null")
    assert(all.size == 32)
  }

  test("a writer that died between parquet write and manifest swing self-heals on retry") {
    val dir = Files.createTempDirectory("bucket").toString + "/t"
    BucketTable.create(rows(("a", 1L, 1.0), ("b", 1L, 2.0)), dir, Seq("k"), "pc",
      numBuckets = 4)
    // simulate the crash: the next generation's dir exists with data
    // files but no manifest entry ever pointed at it
    val orphan = Paths.get(dir, "gen=1", "__bucket=0")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-00000.parquet"), "debris")
    val touched = BucketTable.upsertInto(spark, dir, rows(("a", 2L, 10.0)))
    assert(touched.nonEmpty, "retry must succeed after rolling back the orphan")
    assert(contents(dir) == Seq(("a", 2L, 10.0), ("b", 1L, 2.0)))
  }

  test("create from an empty frame: the first non-empty upsert commits generation 0") {
    val dir = Files.createTempDirectory("bucket").toString + "/t"
    BucketTable.create(rows(), dir, Seq("k"), "pc", numBuckets = 4)
    assert(BucketTable.exists(dir))
    assert(BucketTable.manifest(dir).isEmpty)
    BucketTable.upsertInto(spark, dir, rows(("a", 1L, 1.0)))
    assert(contents(dir) == Seq(("a", 1L, 1.0)))
  }

  test("lookup casts key literals to the table's column types before hashing") {
    val dir = Files.createTempDirectory("bucket").toString + "/t"
    val byId = (1 to 32).map(i => (i.toLong, 1L, i.toDouble))
      .toDF("id", "pc", "v")
    BucketTable.create(byId, dir, Seq("id"), "pc", numBuckets = 8)
    // Int 7 vs the LongType id column: xxhash64 hashes 4- and 8-byte
    // integers differently, so without the cast this probes the wrong
    // bucket and silently returns nothing
    val res = BucketTable.lookup(spark, dir, Seq(7))
      .as[(Long, Long, Double)].collect().toSeq
    assert(res == Seq((7L, 1L, 7.0)))
  }

  test("compact collapses all live buckets to one generation, data unchanged") {
    val dir = Files.createTempDirectory("bucket").toString + "/t"
    BucketTable.create(rows((1 to 32).map(i => (s"k$i", 1L, i.toDouble)): _*),
      dir, Seq("k"), "pc", numBuckets = 8)
    BucketTable.upsertInto(spark, dir, rows(("k1", 2L, 10.0)))
    BucketTable.upsertInto(spark, dir, rows(("k2", 2L, 20.0)))
    val before = contents(dir)
    assert(BucketTable.manifest(dir).values.toSet.size > 1,
      "upserts must have spread the manifest over generations")
    val gen = BucketTable.compact(spark, dir)
    assert(BucketTable.manifest(dir).values.toSet == Set(gen),
      "after compaction every bucket sits at the new generation")
    assert(contents(dir) == before, "compaction must not change the data")
    assert(BucketTable.clean(dir).nonEmpty, "superseded generations reclaimed")
    assert(contents(dir) == before)
  }

  test("clean removes superseded and orphan generations, readers unaffected") {
    val dir = Files.createTempDirectory("bucket").toString + "/t"
    BucketTable.create(rows((1 to 32).map(i => (s"k$i", 1L, i.toDouble)): _*),
      dir, Seq("k"), "pc", numBuckets = 8)
    BucketTable.upsertInto(spark, dir, rows(("k1", 2L, 10.0)))
    BucketTable.upsertInto(spark, dir, rows(("k1", 3L, 11.0)))
    val before = contents(dir)
    val removed = BucketTable.clean(dir)
    assert(removed.nonEmpty, "two rewrites of k1's bucket leave a dead generation")
    assert(contents(dir) == before)
    assert(BucketTable.clean(dir).isEmpty, "clean is idempotent")
  }

  /** Partition base keys by the bucket they hash to, so tests can build
    * batches with known (disjoint or overlapping) bucket footprints.
    */
  private def keysByBucket(dir: String, ks: Seq[String]): Map[Int, Seq[String]] =
    ks.groupBy(k => BucketTable.bucketOf(spark, dir, Seq(k)))

  test("changedSince serves exactly the changed buckets; retirement fails loudly") {
    val dir = Files.createTempDirectory("bucketinc").toString + "/t"
    BucketTable.create(rows(("a", 1L, 1.0), ("b", 1L, 2.0), ("c", 1L, 3.0)),
      dir, keys = Seq("k"), precombine = "pc", numBuckets = 8)
    val ck0 = BucketTable.latestCommit(dir)
    assert(ck0 == 1L) // create is commit 1
    assert(BucketTable.changedSince(spark, dir, ck0).count() == 0)
    // pull since 0 bootstraps the full table (create's commit in window)
    assert(BucketTable.changedSince(spark, dir, 0L)
      .as[(String, Long, Double)].collect().toSeq.sortBy(_._1) == contents(dir))
    // rewrite ONLY a's bucket: the pull re-delivers that bucket's full
    // current content — a and any co-bucketed keys, nothing else
    BucketTable.upsertInto(spark, dir, rows(("a", 2L, 9.0)))
    val pulled = BucketTable.changedSince(spark, dir, ck0)
      .as[(String, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(pulled.contains(("a", 2L, 9.0)) && pulled.size < contents(dir).size,
      s"pull must be the changed bucket only, got $pulled")
    // OCC commits log too (the manifest swing is the single choke point)
    BucketTable.upsertIntoOcc(spark, dir, rows(("d", 1L, 4.0)))
    val ck1 = BucketTable.latestCommit(dir)
    assert(ck1 == 3L)
    assert(BucketTable.changedSince(spark, dir, 2L)
      .as[(String, Long, Double)].collect().toSeq.exists(_._1 == "d"))
    // the restatement contract makes an IN-BUCKET DELETION visible: a
    // consumer that replaces changed buckets wholesale (bucket
    // recomputed from the routing props — a pure function of the row)
    // reconstructs the post-delete table exactly; a keyed upsert of the
    // feed would have kept the deleted row forever
    def bucketOfKey(k: String): Int =
      BucketTable.bucketOf(spark, dir, Seq(k))
    // plant a co-resident in b's bucket so the delete leaves it LIVE
    // (an emptied bucket is the loud-retirement case proven above)
    val mate = (1 to 64).map(i => s"m$i")
      .find(m => bucketOfKey(m) == bucketOfKey("b")).get
    BucketTable.upsertInto(spark, dir, rows((mate, 1L, 42.0)))
    val ckDel = BucketTable.latestCommit(dir)
    val local = contents(dir) // consumer's replica at the checkpoint
    BucketTable.deleteFrom(spark, dir, Seq(("b", 9L)).toDF("k", "pc"))
    val feedRows = BucketTable.changedSince(spark, dir, ckDel)
      .as[(String, Long, Double)].collect().toSeq
    val changedBuckets = feedRows.map(r => bucketOfKey(r._1)).toSet
    val replayed = (local.filterNot(r => changedBuckets(bucketOfKey(r._1)))
      ++ feedRows).sortBy(_._1)
    assert(replayed == contents(dir),
      s"restatement replay diverged: $replayed vs ${contents(dir)}")
    assert(!replayed.exists(_._1 == "b"), "the deleted key must vanish")
    // a future cursor is rejected
    val e1 = intercept[IllegalArgumentException] {
      BucketTable.changedSince(spark, dir, 99L)
    }
    assert(e1.getMessage.contains("past the commit head"))
    // retiring a bucket (overwrite that misses it) is not expressible
    // in a row feed: the pull across that window must fail loudly
    val ck2 = BucketTable.latestCommit(dir)
    BucketTable.overwriteTable(spark, dir, rows(("a", 3L, 1.0)))
    val e2 = intercept[IllegalArgumentException] {
      BucketTable.changedSince(spark, dir, ck2)
    }
    assert(e2.getMessage.contains("re-sync"), e2.getMessage)
    // a re-sync'd consumer (fresh checkpoint) pulls cleanly again
    assert(BucketTable.changedSince(spark, dir,
      BucketTable.latestCommit(dir)).count() == 0)
  }

  test("readVersion reconstructs any logged commit; reclaimed history is loud") {
    val dir = Files.createTempDirectory("bucketver").toString + "/t"
    BucketTable.create(rows(("a", 1L, 1.0), ("b", 1L, 2.0)), dir,
      keys = Seq("k"), precombine = "pc", numBuckets = 4)      // commit 1
    BucketTable.savepoint(dir, "v1") // pin commit 1's generations
    BucketTable.upsertInto(spark, dir,
      rows(("a", 2L, 9.0), ("c", 1L, 3.0)))                    // commit 2
    BucketTable.deleteFrom(spark, dir, Seq("b").toDF("k"))     // commit 3
    def ver(c: Long): Seq[(String, Long, Double)] =
      BucketTable.readVersion(spark, dir, c)
        .as[(String, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(ver(1L) == Seq(("a", 1L, 1.0), ("b", 1L, 2.0)))
    assert(ver(2L) == Seq(("a", 2L, 9.0), ("b", 1L, 2.0), ("c", 1L, 3.0)))
    assert(ver(3L) == contents(dir))
    // out-of-range commits are loud in both directions
    intercept[IllegalArgumentException] { ver(0L) }
    intercept[IllegalArgumentException] { ver(4L) }
    // a RETIRED bucket in history folds back out: commit 2's map still
    // holds b's bucket, commit 3's no longer does — and after clean,
    // versions whose generations were reclaimed fail loudly while the
    // savepoint-pinned one stays readable
    BucketTable.compact(spark, dir)                            // commit 4
    BucketTable.clean(dir)
    assert(ver(1L) == Seq(("a", 1L, 1.0), ("b", 1L, 2.0)),
      "savepoint-pinned version must survive clean")
    val err = intercept[IllegalArgumentException] { ver(2L) }
    assert(err.getMessage.contains("savepoint"))
    assert(ver(4L) == contents(dir))
  }

  test("OCC: disjoint-bucket writers both commit despite a stale base") {
    val dir = Files.createTempDirectory("occ-bkt").toString + "/t"
    val base = (1 to 64).map(i => (s"k$i", 1L, i.toDouble))
    BucketTable.create(rows(base: _*), dir, keys = Seq("k"), precombine = "pc",
      numBuckets = 16)
    val byBucket = keysByBucket(dir, base.map(_._1))
    val (bA, keysA) = byBucket.head
    val (bB, keysB) = byBucket.drop(1).head
    val m0 = BucketTable.manifest(dir)
    val p = BucketTable.props(dir)

    // writer B commits bucket bB first (plain path)
    BucketTable.upsertInto(spark, dir, rows((keysB.head, 2L, -2.0)))
    // writer A validated against m0 (now stale) but touched only bA —
    // disjoint from bB, so its attempt must still commit
    val taggedA = rows((keysA.head, 2L, -1.0))
      .withColumn("__bucket", org.apache.spark.sql.functions.lit(bA))
    val resA = BucketTable.attemptOcc(spark, dir, taggedA, Set(bA), p, m0)
    assert(resA.contains(Seq(bA)), "disjoint-bucket attempt must commit")

    // neither writer's update was lost
    val gotFull = contents(dir).map(t => t._1 -> t._3).toMap
    assert(gotFull(keysA.head) == -1.0 && gotFull(keysB.head) == -2.0)

    // same-bucket staleness on the SAME KEY writer B changed is a
    // genuine conflict: the attempt must abort cleanly (a same-bucket
    // DIFFERENT-key attempt now salvages — see the key-range test)
    val taggedC = rows((keysB.head, 3L, -3.0))
      .withColumn("__bucket", org.apache.spark.sql.functions.lit(bB))
    val before = contents(dir)
    assert(BucketTable.attemptOcc(spark, dir, taggedC, Set(bB), p, m0).isEmpty)
    assert(contents(dir) == before, "aborted attempt must not change the table")
    val leftover = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(!leftover.contains("_lock"), "lock leaked")
    // the aborted generation dir was rolled back
    val liveGens = BucketTable.manifest(dir).values.toSet
    val genDirs = leftover.filter(_.startsWith("gen=")).map(_.drop(4).toLong).toSet
    assert(genDirs == liveGens, s"aborted gen dir leaked: $genDirs vs $liveGens")
  }

  test("OCC: concurrent writers converge to the sequential-equivalent state") {
    val dir = Files.createTempDirectory("occ-bkt2").toString + "/t"
    val base = (1 to 64).map(i => (s"k$i", 1L, i.toDouble))
    BucketTable.create(rows(base: _*), dir, keys = Seq("k"), precombine = "pc",
      numBuckets = 8)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // four writers, overlapping bucket footprints — retries must resolve
    val writers = (0 until 4).map { w =>
      Future(BucketTable.upsertIntoOcc(spark, dir,
        rows((16 * w + 1 to 16 * (w + 1)).map(i => (s"k$i", 2L, -i.toDouble)): _*)))
    }
    Await.result(Future.sequence(writers), 5.minutes)
    val expected = (1 to 64).map(i => (s"k$i", 2L, -i.toDouble)).sortBy(_._1)
    assert(contents(dir) == expected)
  }

  test("restoring a pre-rescale savepoint restores the pinned routing too") {
    val dir = Files.createTempDirectory("rsave").toString + "/t"
    BucketTable.create(rows((1 to 40).map(i => (s"k$i", 1L, i.toDouble)): _*),
      dir, keys = Seq("k"), precombine = "pc", numBuckets = 4)
    BucketTable.savepoint(dir, "pre")
    BucketTable.rescale(spark, dir, factor = 4)
    assert(BucketTable.props(dir).numBuckets == 16)
    BucketTable.restoreSavepoint(spark, dir, "pre")
    // routing reverted with the manifest: a lookup must hash mod 4
    // again, or live keys would resolve to absent bucket ids
    assert(BucketTable.props(dir).numBuckets == 4)
    assert(BucketTable.lookup(spark, dir, Seq("k7"))
      .as[(String, Long, Double)].collect().toSeq == Seq(("k7", 1L, 7.0)))
    // and post-restore upserts route consistently with existing rows
    BucketTable.upsertInto(spark, dir, rows(("k7", 2L, 70.0)))
    assert(BucketTable.lookup(spark, dir, Seq("k7"))
      .as[(String, Long, Double)].collect().toSeq == Seq(("k7", 2L, 70.0)))
    assert(contents(dir).size == 40)
  }

  test("rescale splits buckets locally: contents, routing, and layout hold") {
    val dir = Files.createTempDirectory("rescale").toString + "/t"
    BucketTable.create(rows((1 to 60).map(i => (s"k$i", 1L, i.toDouble)): _*),
      dir, keys = Seq("k"), precombine = "pc", numBuckets = 4)
    BucketTable.upsertInto(spark, dir, rows(("k7", 2L, 70.0)))
    val before = contents(dir)

    val gen = BucketTable.rescale(spark, dir, factor = 4)
    assert(BucketTable.props(dir).numBuckets == 16)
    assert(contents(dir) == before, "rescale must not change contents")
    // every live bucket re-pointed at the rescale generation, ids < 16
    val m = BucketTable.manifest(dir)
    assert(m.values.toSet == Set(gen) && m.keySet.forall(_ < 16))
    // every key routes through the new hash to a live bucket
    (1 to 60).map(i => s"k$i").foreach { k =>
      assert(m.contains(BucketTable.bucketOf(spark, dir, Seq(k))),
        s"$k routes to a bucket missing from the rescaled manifest")
    }
    // one file per new bucket dir: holds because the split is map-side
    // local (each new bucket receives rows from exactly one old bucket)
    val bucketDirs = Files.list(Paths.get(s"$dir/gen=$gen")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("__bucket=")).toSeq
    assert(bucketDirs.nonEmpty)
    bucketDirs.foreach { bd =>
      val parts = Files.list(bd).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      assert(parts == 1, s"${bd.getFileName} has $parts files")
    }
    // lookups route through the new count; upserts land normally after
    assert(BucketTable.lookup(spark, dir, Seq("k7"))
      .as[(String, Long, Double)].collect().toSeq == Seq(("k7", 2L, 70.0)))
    BucketTable.upsertInto(spark, dir, rows(("k7", 3L, 700.0), ("z1", 1L, 0.5)))
    assert(BucketTable.lookup(spark, dir, Seq("k7"))
      .as[(String, Long, Double)].collect().toSeq == Seq(("k7", 3L, 700.0)))
    // superseded pre-rescale generations reclaimable
    assert(BucketTable.clean(dir).nonEmpty)
    assert(contents(dir).size == before.size + 1)
  }

  test("routing commits atomically with the manifest: a lost _props mirror is harmless") {
    val dir = Files.createTempDirectory("ratomic").toString + "/t"
    BucketTable.create(rows((1 to 40).map(i => (s"k$i", 1L, i.toDouble)): _*),
      dir, keys = Seq("k"), precombine = "pc", numBuckets = 4)
    BucketTable.rescale(spark, dir, factor = 4)
    // simulate a writer that died between the manifest swing (the
    // commit) and the _props mirror write: revert the mirror to the
    // pre-rescale routing
    val propsFile = Paths.get(dir, "_props")
    Files.writeString(propsFile,
      Files.readString(propsFile).replace("numBuckets=16", "numBuckets=4"))
    // routing must still resolve through the manifest's atomic header —
    // lookups and upserts route mod 16, matching the committed map
    assert(BucketTable.props(dir).numBuckets == 16)
    val m = BucketTable.manifest(dir)
    (1 to 40).map(i => s"k$i").foreach { k =>
      assert(m.contains(BucketTable.bucketOf(spark, dir, Seq(k))),
        s"$k routes outside the committed manifest under the stale mirror")
    }
    assert(BucketTable.lookup(spark, dir, Seq("k7"))
      .as[(String, Long, Double)].collect().toSeq == Seq(("k7", 1L, 7.0)))
    BucketTable.upsertInto(spark, dir, rows(("k7", 2L, 70.0)))
    assert(BucketTable.lookup(spark, dir, Seq("k7"))
      .as[(String, Long, Double)].collect().toSeq == Seq(("k7", 2L, 70.0)))
    assert(contents(dir).size == 40)
  }

  test("OCC key-range refinement: disjoint-key bucket collisions salvage, overlaps retry") {
    val dir = Files.createTempDirectory("bucketkr").toString + "/t"
    BucketTable.create(rows(("seed", 1L, 0.0)), dir,
      keys = Seq("k"), precombine = "pc", numBuckets = 2)
    // two DISTINCT keys hashing to the SAME bucket — the shape the
    // bucket-granular check calls a conflict even though the writers
    // never touch one another's records
    val byBucket = (1 to 50).map(i => s"k$i")
      .groupBy(k => BucketTable.bucketOf(spark, dir, Seq(k)))
    val shared = byBucket.values.find(_.size >= 2).get
    val (ka, kb) = (shared(0), shared(1))
    val m0 = BucketTable.manifest(dir)
    // writer B commits kb while writer A (staged against m0) holds ka
    BucketTable.upsertIntoOcc(spark, dir, rows((kb, 1L, 2.0)))
    val salvaged = BucketTable.attemptOccFrom(spark, dir,
      rows((ka, 1L, 1.0)), m0)
    assert(salvaged.nonEmpty,
      "disjoint-key writers sharing a bucket must both commit")
    assert(contents(dir).filter(r => r._1 == ka || r._1 == kb) ==
      Seq((ka, 1L, 1.0), (kb, 1L, 2.0)).sortBy(_._1),
      "the salvage must keep BOTH writers' rows")
    // overlapping keys are a genuine race: the stale writer retries
    val m1 = BucketTable.manifest(dir)
    BucketTable.upsertIntoOcc(spark, dir, rows((ka, 2L, 10.0)))
    val conflicted = BucketTable.attemptOccFrom(spark, dir,
      rows((ka, 3L, 99.0)), m1)
    assert(conflicted.isEmpty,
      "a writer whose key the intervening commit changed must retry")
    assert(contents(dir).find(_._1 == ka).get == ((ka, 2L, 10.0)),
      "the conflicted attempt must not have written anything")
    // and the ordinary retry loop still lands it
    BucketTable.upsertIntoOcc(spark, dir, rows((ka, 3L, 99.0)))
    assert(contents(dir).find(_._1 == ka).get == ((ka, 3L, 99.0)))
  }

  test("cluster: range files tighten zone maps; routing and data intact") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("bucketcl").toString + "/t"
    val stats = Files.createTempDirectory("bucketcl").toString + "/s"
    val stats2 = stats + "2"
    // v is scattered so each bucket's single create-file spans nearly
    // the whole domain — a range predicate can prune NOTHING
    val df = (1 to 512).map(i => (s"k$i", 1L, ((i * 199) % 512).toDouble))
      .toDF("k", "pc", "v")
    BucketTable.create(df, dir, keys = Seq("k"), precombine = "pc",
      numBuckets = 4)
    val before = contents(dir)
    StatsIndex.buildFromFiles(spark, BucketTable.liveFiles(dir),
      Seq("v"), stats)
    val range = Seq(StatsIndex.ColRange("v", Some(100.0), Some(130.0)))
    val (preCand, preTotal) = StatsIndex.prune(spark, stats, range)
    assert(preCand.size == preTotal,
      s"scattered layout should prune nothing: ${preCand.size}/$preTotal")
    // cluster: sort-range files inside each bucket, small target so
    // buckets split into several range-disjoint files
    BucketTable.cluster(spark, dir, sortCols = Seq("v"),
      targetFileRows = 64L)
    StatsIndex.buildFromFiles(spark, BucketTable.liveFiles(dir),
      Seq("v"), stats2)
    val (postCand, postTotal) = StatsIndex.prune(spark, stats2, range)
    assert(postTotal >= preTotal, "clustering should split files")
    assert(postCand.size.toDouble / postTotal < 0.5,
      s"clustered layout must prune the range scan: ${postCand.size}/$postTotal")
    // logical contents identical; hash routing untouched: point reads
    // still resolve through bucketOf
    assert(contents(dir) == before)
    assert(BucketTable.lookup(spark, dir, Seq("k7"))
      .as[(String, Long, Double)].collect().toSeq ==
      Seq(("k7", 1L, ((7 * 199) % 512).toDouble)))
    // the skipped scan returns exactly the range's rows
    val got = StatsIndex.scanFiles(spark, BucketTable.liveFiles(dir),
      stats2, range).select(col("v")).as[Double].collect()
    assert(got.forall(v => v >= 100.0 && v <= 130.0) && got.length == 31)
  }

  test("bloom cluster: sort-range files; point tagging stays exact") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("bloomcl").toString + "/t"
    val stats = Files.createTempDirectory("bloomcl").toString + "/s"
    val df = (1L to 512L).map(i => (i, 1L, ((i * 199) % 512).toDouble))
      .toDF("k", "pc", "v")
    BloomTable.create(df, dir, keys = Seq("k"), precombine = "pc",
      numFiles = 4)
    val before = BloomTable.read(spark, dir).as[(Long, Long, Double)]
      .collect().toSeq.sortBy(_._1)
    BloomTable.cluster(spark, dir, sortCols = Seq("v"), targetFileRows = 64L)
    assert(BloomTable.read(spark, dir).as[(Long, Long, Double)]
      .collect().toSeq.sortBy(_._1) == before)
    // the rebuilt filter index still serves exact point lookups
    assert(BloomTable.lookup(spark, dir, Seq(7L))
      .as[(Long, Long, Double)].collect().toSeq ==
      Seq((7L, 1L, ((7 * 199) % 512).toDouble)))
    // zone maps over the clustered files prune a v-range scan
    StatsIndex.buildFromFiles(spark, BloomTable.liveFiles(dir),
      Seq("v"), stats)
    val (cand, total) = StatsIndex.prune(spark, stats,
      Seq(StatsIndex.ColRange("v", Some(100.0), Some(130.0))))
    assert(cand.size.toDouble / total < 0.5,
      s"clustered bloom layout must prune: ${cand.size}/$total")
  }

  test("a delete that empties the table leaves it readable at the recorded schema") {
    val dir = Files.createTempDirectory("bucket").toString + "/t"
    BucketTable.create(rows(("a", 1L, 1.0), ("b", 1L, 2.0)), dir,
      keys = Seq("k"), precombine = "pc", numBuckets = 4)
    BucketTable.deleteFrom(spark, dir, Seq("a", "b").toDF("k"))
    assert(BucketTable.manifest(dir).isEmpty)
    val snap = BucketTable.read(spark, dir)
    assert(snap.columns.toSeq == Seq("k", "pc", "v") && snap.count() == 0L)
    // compact is a no-op, not an error; targeted DML proceeds from the
    // empty state; the next upsert revives the table
    assert(BucketTable.compact(spark, dir) == -1L)
    BucketTable.deleteFrom(spark, dir, Seq("zz").toDF("k"))
    BucketTable.upsertInto(spark, dir, rows(("c", 1L, 3.0)))
    assert(contents(dir) == Seq(("c", 1L, 3.0)))
  }

  test("retention-aware clean keeps the newest versions readable") {
    val dir = Files.createTempDirectory("bucket").toString + "/t"
    BucketTable.create(rows(("a", 1L, 1.0), ("b", 1L, 2.0)), dir,
      keys = Seq("k"), precombine = "pc", numBuckets = 4)        // commit 1
    BucketTable.upsertInto(spark, dir, rows(("a", 2L, 9.0)))     // commit 2
    BucketTable.deleteFrom(spark, dir, Seq("a").toDF("k"))       // commit 3
    def asOf(c: Long): Map[String, Double] =
      BucketTable.readVersion(spark, dir, c)
        .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // KEEP_LATEST_COMMITS: keep=2 guarantees commits 2..3 survive the
    // sweep (commit 2's superseded bucket generation stays on disk)
    BucketTable.clean(dir, keepVersions = 2)
    assert(asOf(2L) == Map("a" -> 9.0, "b" -> 2.0))
    assert(asOf(3L) == Map("b" -> 2.0))
    // an unretained clean reclaims commit 2's superseded generation —
    // the historical read refuses loudly, never a partial snapshot
    BucketTable.clean(dir)
    val e = intercept[IllegalArgumentException] { asOf(2L) }
    assert(e.getMessage.contains("reclaimed by clean"))
    assert(asOf(3L) == Map("b" -> 2.0))
  }

  test("a phantom commit line refuses history loudly; compaction resets it") {
    val dir = Files.createTempDirectory("bucket").toString + "/t"
    BucketTable.create(rows(("a", 1L, 1.0), ("b", 1L, 2.0)), dir,
      keys = Seq("k"), precombine = "pc", numBuckets = 4)
    BucketTable.upsertInto(spark, dir, rows(("a", 2L, 9.0)))
    // simulate the crash window: a line appended whose manifest swing
    // never happened (repointing bucket 0 to a generation dir that
    // does exist on disk but was never committed)
    java.nio.file.Files.writeString(Paths.get(dir, "_commits"),
      s"3 0:0 ts=${System.currentTimeMillis()}\n",
      java.nio.file.StandardOpenOption.APPEND)
    val e = intercept[IllegalArgumentException] {
      BucketTable.readVersion(spark, dir, 1L)
    }
    assert(e.getMessage.contains("does not fold to the live manifest"))
    // compaction re-points every live bucket — history folds again and
    // serves the compacted head
    BucketTable.compact(spark, dir)
    assert(BucketTable.readVersion(spark, dir,
      BucketTable.latestCommit(dir)).count() == 2L)
  }

  test("torn commit lines never parse as a smaller-but-wrong diff") {
    val dir = Files.createTempDirectory("bucket").toString + "/t"
    BucketTable.create(rows(("a", 1L, 1.0), ("b", 1L, 2.0)), dir,
      keys = Seq("k"), precombine = "pc", numBuckets = 4)     // commit 1
    BucketTable.upsertInto(spark, dir, rows(("a", 2L, 9.0))) // commit 2
    val head = BucketTable.latestCommit(dir)
    def asOfHead(): Long = BucketTable.readVersion(spark, dir, head).count()
    assert(asOfHead() == 2L)
    // a torn append cut INSIDE its ts token: only `no entries garbage`
    // survives — strict acceptance EXCLUDES it wholesale (it must never
    // parse as a well-formed smaller diff whose phantom repointing a
    // later rewrite would quietly legitimize); the swing never
    // happened, so the fold still matches the live manifest and every
    // numbered version stays exact
    val cl = Paths.get(dir, "_commits")
    java.nio.file.Files.writeString(cl, "9 0:0,1:0 notats\n",
      java.nio.file.StandardOpenOption.APPEND)
    assert(asOfHead() == 2L)
    assert(BucketTable.readVersion(spark, dir, 1L).count() == 2L)
    // a line torn down to the two-token LEGACY shape is generation-
    // unknowable: versions at or past it refuse loudly, earlier ones
    // keep serving
    java.nio.file.Files.writeString(cl,
      java.nio.file.Files.readAllLines(cl).asScala
        .filterNot(_.startsWith("9 ")).mkString("", "\n", "\n") + "9 0:0\n")
    assert(asOfHead() == 2L)
    val e = intercept[IllegalArgumentException] {
      BucketTable.readVersion(spark, dir, 9L)
    }
    assert(e.getMessage.contains("without generation info"))
  }
}
