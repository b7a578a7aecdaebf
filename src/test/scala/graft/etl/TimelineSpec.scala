package graft.etl

import graft.SparkSpec
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class TimelineSpec extends SparkSpec {
  import spark.implicits._

  private def rows(t: (String, Long, Double)*) = t.toSeq.toDF("k", "pc", "v")

  test("upserts create a commit timeline with time travel") {
    val dir = Files.createTempDirectory("timeline").toString + "/t"
    val v0 = Timeline.upsertInto(spark, dir, rows(("a", 1L, 1.0), ("b", 1L, 2.0)), Seq("k"), "pc")
    val v1 = Timeline.upsertInto(spark, dir, rows(("b", 2L, 20.0), ("c", 1L, 3.0)), Seq("k"), "pc")
    assert(v0 == 0 && v1 == 1)
    assert(Timeline.latestVersion(dir).contains(1L))

    val latest = Timeline.read(spark, dir).as[(String, Long, Double)]
      .collect().sortBy(_._1)
    assert(latest.toSeq == Seq(("a", 1L, 1.0), ("b", 2L, 20.0), ("c", 1L, 3.0)))

    // time travel: v0 still shows the pre-upsert state
    val old = Timeline.readVersion(spark, dir, 0).as[(String, Long, Double)]
      .collect().sortBy(_._1)
    assert(old.toSeq == Seq(("a", 1L, 1.0), ("b", 1L, 2.0)))
  }

  test("cleaning retains the newest versions only") {
    val dir = Files.createTempDirectory("clean").toString + "/t"
    (1 to 4).foreach(i =>
      Timeline.upsertInto(spark, dir, rows(("a", i.toLong, i.toDouble)), Seq("k"), "pc"))
    assert(Timeline.versions(dir) == Seq(0L, 1L, 2L, 3L))
    val dropped = Timeline.cleanVersions(dir, retain = 2)
    assert(dropped == Seq(0L, 1L))
    assert(Timeline.versions(dir) == Seq(2L, 3L))
    assert(Timeline.read(spark, dir).count() == 1)
  }

  test("compaction rewrites files without changing contents") {
    val dir = Files.createTempDirectory("compact").toString + "/t"
    // many small commits → latest snapshot written from 8 partitions
    Timeline.commit(rows((1 to 50).map(i => (s"k$i", 1L, i.toDouble)): _*)
      .repartition(8), dir)
    val beforeFiles = Files.list(java.nio.file.Paths.get(s"$dir/v=0"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(beforeFiles == 8)
    Timeline.compact(spark, dir, numFiles = 1)
    val afterFiles = Files.list(java.nio.file.Paths.get(s"$dir/v=1"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(afterFiles == 1)
    val a = Timeline.readVersion(spark, dir, 0)
    val b = Timeline.readVersion(spark, dir, 1)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("incremental read surfaces only what changed between commits") {
    val dir = Files.createTempDirectory("incr").toString + "/t"
    Timeline.upsertInto(spark, dir, rows(("a", 1L, 1.0), ("b", 1L, 2.0), ("d", 1L, 9.0)), Seq("k"), "pc")
    Timeline.commit(rows(("a", 1L, 1.0), ("b", 2L, 20.0), ("c", 1L, 3.0)), dir) // d deleted
    val changes = Timeline.incrementalRead(spark, dir, Seq("k"), 0L, 1L)
      .as[(String, String)].collect().sortBy(_._1)
    assert(changes.toSeq == Seq(("b", "update"), ("c", "insert"), ("d", "delete")))
  }

  test("restore makes an old version the newest commit, keeping history") {
    val dir = Files.createTempDirectory("restore").toString + "/t"
    Timeline.upsertInto(spark, dir, rows(("a", 1L, 1.0)), Seq("k"), "pc")
    Timeline.upsertInto(spark, dir, rows(("a", 2L, 99.0)), Seq("k"), "pc") // botched
    val v = Timeline.restore(spark, dir, 0L)
    assert(v == 2L && Timeline.versions(dir) == Seq(0L, 1L, 2L))
    val latest = Timeline.read(spark, dir).as[(String, Long, Double)].collect()
    assert(latest.toSeq == Seq(("a", 1L, 1.0)))
  }

  test("OCC attempt aborts cleanly when another commit lands first") {
    val dir = Files.createTempDirectory("occ").toString + "/t"
    Timeline.upsertInto(spark, dir, rows(("a", 1L, 1.0)), Seq("k"), "pc")
    // writer A starts from v0; writer B commits v1 before A validates
    Timeline.upsertInto(spark, dir, rows(("b", 1L, 2.0)), Seq("k"), "pc")
    val res = Timeline.attemptOcc(spark, dir, rows(("c", 1L, 3.0)),
      Seq("k"), "pc", Nil, base = Some(0L))
    assert(res.isEmpty, "stale-base attempt must be rejected")
    // the abort left no new version, no staged dir, no lock
    assert(Timeline.latestVersion(dir).contains(1L))
    assert(Timeline.versions(dir) == Seq(0L, 1L))
    val leftovers = Files.list(java.nio.file.Paths.get(dir)).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (leftovers.hasNext) names += leftovers.next().getFileName.toString
    assert(!names.exists(_.startsWith("_staged")), s"staged dir leaked: $names")
    assert(!names.contains("_lock"), "lock leaked")
    // retried against the real latest, the same batch commits as v2
    // with writer B's row intact — no lost update
    assert(Timeline.attemptOcc(spark, dir, rows(("c", 1L, 3.0)),
      Seq("k"), "pc", Nil, base = Some(1L)).contains(2L))
    val latest = Timeline.read(spark, dir).as[(String, Long, Double)]
      .collect().sortBy(_._1)
    assert(latest.toSeq == Seq(("a", 1L, 1.0), ("b", 1L, 2.0), ("c", 1L, 3.0)))
  }

  test("OCC instants count the staged rows; clean reclaims crashed staged dirs only") {
    val dir = Files.createTempDirectory("occclean").toString + "/t"
    rows(("a", 1L, 1.0)).createOrReplaceTempView("occ_clean_src")
    SqlDdl.exec(spark, s"""CREATE TABLE occ_clean_tl TBLPROPERTIES (
      |  'graft.table.layout' = 'timeline', 'graft.table.path' = '$dir',
      |  'graft.table.primaryKey' = 'k', 'graft.table.preCombineField' = 'pc')
      |AS SELECT k, pc, v FROM occ_clean_src""".stripMargin)
    assert(Timeline.attemptOcc(spark, dir, rows(("b", 1L, 2.0), ("c", 1L, 3.0)),
      Seq("k"), "pc", Nil, base = Some(0L)).contains(1L))
    assert(Timeline.instants(dir).find(_.version == 1L).map(_.n_rows).contains(3L))
    // a CRASHED attempt's staged dir (it and everything in it untouched
    // for longer than a writer may queue for the lock) is debris; an
    // in-flight writer's must survive, whether it is still writing or
    // waiting for the lock after its write (the age gate)
    def staged(): Seq[String] = {
      val s = Files.list(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_staged-")).toSeq.sorted
      finally s.close()
    }
    assert(staged().isEmpty)
    def age(p: java.nio.file.Path, ms: Long) = Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ms))
    val old = FsLock.QueueWaitMs + 60000L
    def crash(name: String) = {
      val d = Files.createDirectories(java.nio.file.Paths.get(dir, name))
      age(Files.writeString(d.resolve("part-0.parquet"), "x"), old)
      age(d, old)
    }
    crash("_staged-1")
    Files.createDirectories(java.nio.file.Paths.get(dir, "_staged-2"))
    // still writing: the dir is old, but a task file under its
    // `_temporary` was written just now
    val writing = Files.createDirectories(
      java.nio.file.Paths.get(dir, "_staged-4", "_temporary", "0"))
    Files.writeString(writing.resolve("part-0.parquet"), "x")
    Seq(writing, writing.getParent, writing.getParent.getParent).foreach(age(_, old))
    Files.setLastModifiedTime(writing.resolve("part-0.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    // written, then queued for the lock past the lock expiry but within
    // the queue wait
    age(Files.createDirectories(java.nio.file.Paths.get(dir, "_staged-5")),
      FsLock.LockExpiryMs + 1000L)
    assert(Timeline.cleanVersions(dir, retain = 2).isEmpty)
    assert(staged() == Seq("_staged-2", "_staged-4", "_staged-5"))
    // the SQL verb runs the same sweep
    crash("_staged-3")
    SqlCall.exec(spark, "CALL clean_commits('occ_clean_tl', 2)").collect()
    assert(staged() == Seq("_staged-2", "_staged-4", "_staged-5"))
    assert(Timeline.read(spark, dir).count() == 3)
  }

  test("concurrent OCC writers both commit without lost updates") {
    val dir = Files.createTempDirectory("occ2").toString + "/t"
    Timeline.upsertInto(spark, dir, rows(("seed", 1L, 0.0)), Seq("k"), "pc")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1 to 4).map { i =>
      Future(Timeline.upsertIntoOcc(spark, dir,
        rows((s"w$i", 1L, i.toDouble)), Seq("k"), "pc"))
    }
    val versions = Await.result(Future.sequence(writers), 5.minutes)
    // every writer committed a distinct version, whatever the interleave
    assert(versions.distinct.size == 4)
    assert(Timeline.latestVersion(dir).contains(4L))
    val keys = Timeline.read(spark, dir).as[(String, Long, Double)]
      .collect().map(_._1).sorted
    assert(keys.toSeq == Seq("seed", "w1", "w2", "w3", "w4"))
  }

  test("changeSet tags insert/update/delete/unchanged") {
    val before = rows(("a", 1L, 1.0), ("b", 1L, 2.0), ("c", 1L, 3.0))
    val after = rows(("b", 2L, 20.0), ("c", 1L, 3.0), ("d", 1L, 4.0))
    val got = HudiLike.changeSet(before, after, Seq("k"))
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "delete", "b" -> "update",
      "c" -> "unchanged", "d" -> "insert"))
  }

  test("commits record instants; archival folds old ones, keeps history") {
    val dir = Files.createTempDirectory("archive").toString + "/t"
    (1 to 5).foreach(i =>
      Timeline.upsertInto(spark, dir, rows(("a", i.toLong, i.toDouble)), Seq("k"), "pc"))
    Timeline.restore(spark, dir, 0L)
    // six instants active, one file each
    def timelineFiles = {
      val s = Files.list(java.nio.file.Paths.get(s"$dir/_timeline"))
      try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted }
      finally s.close()
    }
    assert(timelineFiles.count(_.endsWith(".commit")) == 6)

    val archived = Timeline.archiveCommits(dir, keepLatest = 2)
    assert(archived == Seq(0L, 1L, 2L, 3L))
    // active timeline bounded: 2 instant files + ONE archived batch
    assert(timelineFiles == Seq("4.commit", "5.commit", "archived-0-3.log"))

    // full history preserved across the fold, archived flags correct
    val h = Timeline.history(spark, dir)
      .select("version", "action", "n_rows", "archived")
      .as[(Long, String, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(h.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L, 5L))
    assert(h.map(_._2) == Seq.fill(5)("commit") :+ "restore")
    assert(h.map(_._3) == Seq.fill(6)(1L)) // one key per snapshot
    assert(h.map(_._4) == Seq(true, true, true, true, false, false))

    // archival is idempotent at the same retention and monotone below it
    assert(Timeline.archiveCommits(dir, keepLatest = 2).isEmpty)
    assert(Timeline.archiveCommits(dir, keepLatest = 1) == Seq(4L))
    val h2 = Timeline.history(spark, dir)
      .select("version", "action", "n_rows", "archived")
      .as[(Long, String, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(h2.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L, 5L))
  }

  test("incremental pull spans the archive boundary; cleaned checkpoints fail loudly") {
    val dir = Files.createTempDirectory("incrarch").toString + "/t"
    Timeline.upsertInto(spark, dir, rows(("a", 1L, 1.0), ("b", 1L, 2.0)), Seq("k"), "pc")
    Timeline.upsertInto(spark, dir, rows(("b", 2L, 20.0)), Seq("k"), "pc")
    Timeline.upsertInto(spark, dir, rows(("c", 1L, 3.0)), Seq("k"), "pc")
    val beforeArchive = Timeline.incrementalPull(spark, dir, Seq("k"), 0L)
      .select("k", "change_type").as[(String, String)].collect().toSeq.sortBy(_._1)
    assert(beforeArchive == Seq(("b", "update"), ("c", "insert")))
    // fold v0/v1 instants into the archived log — the v0 checkpoint
    // must still resolve through the full history
    assert(Timeline.archiveCommits(dir, keepLatest = 1) == Seq(0L, 1L))
    val afterArchive = Timeline.incrementalPull(spark, dir, Seq("k"), 0L)
      .select("k", "change_type").as[(String, String)].collect().toSeq.sortBy(_._1)
    assert(afterArchive == beforeArchive,
      "archival is metadata-only: the pull result must not change")
    // a checkpoint that was never committed is a loud error
    val e1 = intercept[IllegalArgumentException] {
      Timeline.incrementalPull(spark, dir, Seq("k"), 99L)
    }
    assert(e1.getMessage.contains("never committed"))
    // cleaning the checkpointed snapshot makes the pull fail loudly,
    // naming the repair — never a silent wrong-base diff
    Timeline.cleanVersions(dir, retain = 1)
    val e2 = intercept[IllegalArgumentException] {
      Timeline.incrementalPull(spark, dir, Seq("k"), 0L)
    }
    assert(e2.getMessage.contains("full-refresh"))
  }

  test("changeSet sees changes in columns added by schema evolution") {
    val before = rows(("a", 1L, 1.0), ("b", 1L, 2.0))
    val after = Seq(("a", 1L, 1.0, "x"), ("b", 1L, 2.0, null: String))
      .toDF("k", "pc", "v", "extra")
    val got = HudiLike.changeSet(before, after, Seq("k"))
      .as[(String, String)].collect().toMap
    // a gained a value in the new column -> update; b's new column is
    // null on both sides (absent == null) -> unchanged
    assert(got == Map("a" -> "update", "b" -> "unchanged"))
  }

  test("purge_key serializes with clean/archive under the table lock") {
    val dir = Files.createTempDirectory("purgelock").toString + "/t"
    (1 to 3).foreach(i => Timeline.upsertInto(spark, dir,
      rows(("u7", i.toLong, i * 1.0), ("u8", i.toLong, i * 2.0)),
      Seq("k"), "pc", atMs = Some(i * 1000L)))
    // forced contention: while the test holds the table lock, a purge
    // must QUEUE (lock-enforced, not a comment contract) and complete
    // only after release
    @volatile var purged: Seq[Long] = null
    val th = new Thread(() => {
      purged = Timeline.purgeKey(spark, dir, Seq("k"), Seq("u7"))
    })
    FsLock.withTableLock(dir) {
      th.start()
      Thread.sleep(800)
      assert(purged == null, "purge_key must queue behind the table lock")
    }
    th.join(60000)
    assert(purged == Seq(0L, 1L, 2L))
    // interleave the other destructive services — all on the same lock
    assert(Timeline.cleanVersions(dir, retain = 2) == Seq(0L))
    assert(Timeline.archiveCommits(dir, keepLatest = 1) == Seq(0L, 1L))
    // every retained version is u7-free, u8 intact
    Timeline.versions(dir).foreach { v =>
      val rows = Timeline.readVersion(spark, dir, v)
        .as[(String, Long, Double)].collect().toSeq
      assert(!rows.exists(_._1 == "u7") && rows.exists(_._1 == "u8"))
    }
  }
}
