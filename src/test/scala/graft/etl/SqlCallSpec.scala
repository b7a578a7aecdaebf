package graft.etl

import graft.SparkSpec
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The CALL procedure surface: each procedure parses through Spark's
  * parser, dispatches to the right table service, and returns a frame
  * describing what it did; wrong layouts and unknown procedures fail
  * loudly.
  */
class SqlCallSpec extends SparkSpec {
  import spark.implicits._

  private def mkTimeline(name: String): String = {
    val p = Files.createTempDirectory("sqlcall").toString + "/t"
    (1 to 4).foreach { i =>
      Timeline.upsertInto(spark, p,
        Seq((i.toLong, 1L, i * 10.0)).toDF("k", "pc", "v"),
        keys = Seq("k"), precombine = "pc", atMs = Some(i * 1000L))
    }
    Catalog.registerTimelineTable(spark, name, p,
      keys = Seq("k"), precombine = "pc")
    p
  }

  test("timeline service procedures run and report") {
    val p = mkTimeline("call_tl")
    assert(SqlCall.exec(spark, "CALL show_commits('call_tl')").count() == 4)
    // compact appends a replacecommit
    val v = SqlCall.exec(spark, "CALL compact('call_tl', 2)")
      .as[Long].head()
    assert(v == 4L)
    assert(Timeline.instants(p).last.action == "replacecommit")
    // rollback restores v1's one-key contents as a new version
    val rb = SqlCall.exec(spark, "CALL rollback_to_version('call_tl', 1)")
      .as[Long].head()
    assert(rb == 5L && Timeline.read(spark, p).count() == 2)
    // archive folds all but the newest 2 instants
    val archived = SqlCall.exec(spark, "CALL archive_commits('call_tl', 2)")
      .as[Long].collect().toSeq
    assert(archived == Seq(0L, 1L, 2L, 3L))
    assert(SqlCall.exec(spark, "CALL show_commits('call_tl')").count() == 6)
    // clean drops all but the newest 2 snapshot versions
    val cleaned = SqlCall.exec(spark, "CALL clean_commits('call_tl', 2)")
      .as[Long].collect().toSeq
    assert(cleaned == Seq(0L, 1L, 2L, 3L))
    assert(Timeline.versions(p) == Seq(4L, 5L))
  }

  test("incremental_read pulls per layout: timeline windows, MOR logs, partition gens") {
    import org.apache.spark.sql.functions.col
    // timeline: explicit window + checkpointed catch-up across archive
    val p = mkTimeline("call_incr_tl")
    val w = SqlCall.exec(spark, "CALL incremental_read('call_incr_tl', 0, 2)")
      .as[(Long, String)].collect().toMap
    assert(w == Map(2L -> "insert", 3L -> "insert")) // v0={1}, v2={1,2,3}
    Timeline.archiveCommits(p, keepLatest = 1)
    val catchUp = SqlCall.exec(spark, "CALL incremental_read('call_incr_tl', 1)")
      .as[(Long, String)].collect().toMap
    assert(catchUp == Map(3L -> "insert", 4L -> "insert"))
    // mor: only the logs after the checkpointed sequence are read
    val mp = Files.createTempDirectory("sqlcallim").toString + "/t"
    MorTable.create(Seq((1L, 1L, 10.0)).toDF("k", "pc", "v"), mp,
      keys = Seq("k"), precombine = "pc")
    MorTable.upsertInto(mp, Seq((2L, 1L, 20.0)).toDF("k", "pc", "v"))
    MorTable.upsertInto(mp, Seq((3L, 1L, 30.0)).toDF("k", "pc", "v"))
    Catalog.registerLayoutTable(spark, "call_incr_mor", "mor", mp)
    assert(SqlCall.exec(spark, "CALL incremental_read('call_incr_mor', 1)")
      .select("k").as[Long].collect().toSeq == Seq(3L))
    // mor rejects an explicit upper bound
    val e1 = intercept[IllegalArgumentException] {
      SqlCall.exec(spark, "CALL incremental_read('call_incr_mor', 1, 2)")
    }
    assert(e1.getMessage.contains("log"))
    // partitioned: only partitions rewritten after the generation
    val pp = Files.createTempDirectory("sqlcallip").toString + "/t"
    PartitionedTable.create(
      Seq((1L, 1L, 1.0, "a"), (2L, 1L, 2.0, "b")).toDF("k", "pc", "v", "d"),
      pp, keys = Seq("k"), precombine = "pc", partitionCols = Seq("d"))
    PartitionedTable.upsertInto(spark, pp,
      Seq((3L, 2L, 3.0, "b")).toDF("k", "pc", "v", "d"))
    Catalog.registerLayoutTable(spark, "call_incr_part", "partitioned", pp)
    val gotPart = SqlCall.exec(spark,
      "CALL incremental_read('call_incr_part', 0)")
      .select(col("k")).as[Long].collect().toSet
    assert(gotPart == Set(2L, 3L)) // partition b's full current content
    // bucket: the commit-log pull serves the changed buckets' current
    // content — a consumer checkpointed at the head pulls nothing, one
    // behind it re-reads only the rewritten bucket
    val bp = Files.createTempDirectory("sqlcallib").toString + "/t"
    BucketTable.create(Seq((1L, 1L, 1.0)).toDF("k", "pc", "v"), bp,
      keys = Seq("k"), precombine = "pc", numBuckets = 2)
    Catalog.registerLayoutTable(spark, "call_incr_bk", "bucket", bp)
    val ck = BucketTable.latestCommit(bp)
    assert(SqlCall.exec(spark,
      s"CALL incremental_read('call_incr_bk', $ck)").count() == 0)
    BucketTable.upsertInto(spark, bp, Seq((9L, 1L, 9.0)).toDF("k", "pc", "v"))
    val pulled = SqlCall.exec(spark,
      s"CALL incremental_read('call_incr_bk', $ck)")
      .select(col("k")).as[Long].collect().toSet
    assert(pulled.contains(9L), s"changed bucket's content must flow: $pulled")
    val e2 = intercept[IllegalArgumentException] {
      SqlCall.exec(spark, "CALL incremental_read('call_incr_bk', 99)")
    }
    assert(e2.getMessage.contains("past the commit head"))
    // table_changes: the row-level CDC twin, log-backed layouts only,
    // with ONE output contract across layouts (change_seq + deleted)
    val tc = SqlCall.exec(spark, "CALL table_changes('call_incr_mor', 1)")
    assert(Set("change_seq", "deleted").subsetOf(tc.columns.toSet),
      s"MOR feed must carry the cross-layout CDC columns: ${tc.columns.toSeq}")
    assert(tc.select(col("k"), col("change_seq"), col("deleted"))
      .as[(Long, Long, Boolean)].collect().toSeq == Seq((3L, 2L, false)))
    val tcp = SqlCall.exec(spark, "CALL table_changes('call_incr_part', 0)")
    assert(Set("change_seq", "deleted").subsetOf(tcp.columns.toSet))
    val e3 = intercept[IllegalArgumentException] {
      SqlCall.exec(spark, "CALL table_changes('call_incr_bk', 0)")
    }
    assert(e3.getMessage.contains("partitioned | mor"))
    // change seqs are globally monotonic across compaction: a consumer
    // checkpointed AT the pre-compaction head stays valid (empty feed —
    // it has seen everything the compactor folded), one checkpointed
    // BELOW it fails loudly toward a re-sync (its unseen window was
    // folded), and a future cursor is rejected — never a silently
    // re-numbered feed
    MorTable.compact(spark, mp)
    assert(MorTable.changeHead(mp) == 2L &&
      MorTable.compactedThrough(mp) == 2L)
    assert(SqlCall.exec(spark,
      "CALL table_changes('call_incr_mor', 2)").count() == 0)
    val e4 = intercept[IllegalArgumentException] {
      SqlCall.exec(spark, "CALL table_changes('call_incr_mor', 1)")
    }
    assert(e4.getMessage.contains("re-sync"))
    val e5 = intercept[IllegalArgumentException] {
      SqlCall.exec(spark, "CALL table_changes('call_incr_part', 9)")
    }
    assert(e5.getMessage.contains("past the change head"))
    // the folded window is gone on the partitioned layout too
    PartitionedTable.upsertDelta(spark, pp,
      Seq((4L, 3L, 4.0, "b")).toDF("k", "pc", "v", "d"))
    PartitionedTable.compactDeltas(spark, pp)
    assert(PartitionedTable.compactedThrough(pp) > 0L)
    assert(SqlCall.exec(spark,
      s"CALL table_changes('call_incr_part', " +
        s"${PartitionedTable.changeHead(pp)})").count() == 0)
    val e6 = intercept[IllegalArgumentException] {
      SqlCall.exec(spark, "CALL table_changes('call_incr_part', 0)")
    }
    assert(e6.getMessage.contains("re-sync"))
  }

  test("show_fsview reports delta depth, CDC head/floor, and debris per layout") {
    val mp = Files.createTempDirectory("fsvm").toString + "/t"
    MorTable.create(Seq((1L, 1L, 1.0)).toDF("k", "pc", "v"), mp,
      keys = Seq("k"), precombine = "pc")
    Catalog.registerLayoutTable(spark, "fsv_mor", "mor", mp)
    MorTable.upsertInto(mp, Seq((2L, 1L, 2.0)).toDF("k", "pc", "v"))
    MorTable.upsertInto(mp, Seq((3L, 1L, 3.0)).toDF("k", "pc", "v"))
    def metrics(t: String): Map[String, Long] =
      SqlCall.exec(spark, s"CALL show_fsview('$t')")
        .as[(String, Long)].collect().toMap
    val m1 = metrics("fsv_mor")
    assert(m1("delta_commits_pending") == 2 && m1("change_head") == 2 &&
      m1("compacted_through") == 0 && m1("debris_files") == 0,
      s"pre-compaction view: $m1")
    MorTable.compact(spark, mp)
    val m2 = metrics("fsv_mor")
    assert(m2("delta_commits_pending") == 0 && m2("change_head") == 2 &&
      m2("compacted_through") == 2, s"post-compaction view: $m2")
    assert(m2("debris_files") > 0,
      "the folded base+logs are reclaimable debris until clean")
    SqlCall.exec(spark, "CALL clean('fsv_mor')")
    assert(metrics("fsv_mor")("debris_files") == 0)
    // unknown tables fail loudly (nonexistent → analysis error; a
    // registered-but-unbound table → the layout-registration message)
    intercept[Exception] {
      SqlCall.exec(spark, "CALL show_fsview('nope_fsv')")
    }
    ()
  }

  test("purge_key on a bloom+RLI table erases the row AND its index entry") {
    import org.apache.spark.sql.functions.col
    val p = Files.createTempDirectory("sqlcallpk").toString + "/t"
    val rows = (1L to 50L).map(k => (k, 1L, k * 1.0))
    BloomTable.create(rows.toDF("k", "pc", "v"), p,
      keys = Seq("k"), precombine = "pc", numFiles = 4)
    RecordIndex.build(spark, p, numShards = 4)
    Catalog.registerLayoutTable(spark, "sqlcall_pk", "bloom", p)
    val report = SqlCall.exec(spark, "CALL purge_key('sqlcall_pk', 7)")
      .as[(String, String)].collect().toMap
    assert(report.keySet == Set("table", "record_index"))
    // row gone; everyone else intact
    assert(BloomTable.read(spark, p).filter(col("k") === 7L).count() == 0)
    assert(BloomTable.read(spark, p).count() == 49)
    // the INDEX was purged, not left to lazy self-heal: the covered
    // set matches the live manifest, so an absent entry is proof of
    // absence (lookup short-circuits without a bloom fallback)
    assert(RecordIndex.coveredFiles(p) == BloomTable.manifest(p).toSet)
    assert(RecordIndex.lookup(spark, p, Seq(7L)).count() == 0)
    assert(RecordIndex.lookup(spark, p, Seq(8L)).count() == 1)
  }

  test("purge_key on a bucket table tombstones the secondary-index mapping") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("sqlcallpk2")
    val p = base.resolve("t").toString
    val idx = base.resolve("idx").toString
    val rows = (1L to 40L).map(k => (k, 1L, s"u${k % 10}", k * 1.0))
    BucketTable.create(rows.toDF("k", "pc", "email", "v"), p,
      keys = Seq("k"), precombine = "pc", numBuckets = 4)
    SecondaryIndex.create(spark, p, idx, secCols = Seq("email"),
      numBuckets = 4)
    Catalog.registerLayoutTable(spark, "sqlcall_pk2", "bucket", p,
      secondaryIndex = Some((Seq("email"), idx)))
    val report = SqlCall.exec(spark, "CALL purge_key('sqlcall_pk2', 17)")
      .as[(String, String)].collect().toMap
    assert(report == Map("table" -> "buckets_rewritten=1",
      "secondary_index" -> s"reconciled=$idx"))
    assert(BucketTable.read(spark, p).filter(col("k") === 17L).count() == 0)
    // the email u7 mapping for key 17 is tombstoned AT THE INDEX (the
    // engine binding reconciled it inside the delete commit): the
    // lookup resolves the remaining u7 keys without probing for 17
    val got = SecondaryIndex.lookup(spark, p, idx, Seq("u7"))
      .select("k").as[Long].collect().toSet
    assert(got == Set(7L, 27L, 37L))
    assert(SecondaryIndex.lookupKeys(spark, p, idx, Seq("u7"))
      .as[Long].collect().toSet == Set(7L, 27L, 37L))
    // purging a key absent from the table is a no-op, not an error
    val rep2 = SqlCall.exec(spark, "CALL purge_key('sqlcall_pk2', 999)")
      .as[(String, String)].collect().toMap
    assert(rep2("secondary_index") == s"reconciled=$idx")
  }

  test("purge_key on a MOR table appends a winning tombstone; covering index follows") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("sqlcallpk3")
    val p = base.resolve("t").toString
    val idx = base.resolve("idx").toString
    MorTable.create((1L to 20L).map(k => (k, 5L, s"u${k % 4}", k * 1.0))
      .toDF("k", "pc", "email", "v"), p, keys = Seq("k"), precombine = "pc")
    SecondaryIndex.createMorCovering(spark, p, idx, secCols = Seq("email"))
    Catalog.registerLayoutTable(spark, "sqlcall_pk3", "mor", p,
      secondaryIndex = Some((Seq("email"), idx)))
    val report = SqlCall.exec(spark, "CALL purge_key('sqlcall_pk3', 9)")
      .as[(String, String)].collect().toMap
    assert(report == Map("table" -> "tombstoned=1",
      "secondary_index" -> s"reconciled=$idx"))
    // the tombstone carries the victim's own precombine: equal
    // precombine → later commit wins the merge, the row is gone
    assert(MorTable.readSnapshot(spark, p).filter(col("k") === 9L).count() == 0)
    assert(MorTable.readSnapshot(spark, p).count() == 19)
    // the covering index retired the mapping in the same pass
    assert(SqlRead.select(spark,
      "SELECT k FROM sqlcall_pk3 WHERE email = 'u1'")
      .as[Long].collect().toSet == Set(1L, 5L, 13L, 17L))
    // absent key: a no-op report, not an error (and no empty commit)
    val head = MorTable.changeHead(p)
    val rep2 = SqlCall.exec(spark, "CALL purge_key('sqlcall_pk3', 999)")
      .as[(String, String)].collect().toMap
    assert(rep2("table") == "tombstoned=0")
    assert(MorTable.changeHead(p) == head)
  }

  test("purge_key on a timeline table rewrites history: the key leaves every version") {
    import org.apache.spark.sql.functions.col
    val p = Files.createTempDirectory("sqlcallpk4").toString + "/t"
    def batch(ks: Seq[Long], pc: Long) =
      ks.map(k => (k, pc, k * pc * 1.0)).toDF("k", "pc", "v")
    Timeline.upsertInto(spark, p, batch(1L to 6L, 1L),
      keys = Seq("k"), precombine = "pc")                    // v0: 1..6
    Timeline.upsertInto(spark, p, batch(Seq(3L, 7L), 2L),
      keys = Seq("k"), precombine = "pc")                    // v1: +7, 3 updated
    Timeline.upsertInto(spark, p, batch(Seq(8L), 1L),
      keys = Seq("k"), precombine = "pc")                    // v2: +8
    // archive v0's instant so the purge exercises the archived-line
    // count refresh too
    Timeline.archiveCommits(p, keepLatest = 2)
    Catalog.registerTimelineTable(spark, "sqlcall_pk4", p,
      keys = Seq("k"), precombine = "pc")
    val report = SqlCall.exec(spark, "CALL purge_key('sqlcall_pk4', 3)")
      .as[(String, String)].collect().toMap
    // key 3 lived in every version → every version rewrote
    assert(report("table").startsWith("versions_rewritten=3"))
    Timeline.versions(p).foreach { v =>
      assert(Timeline.readVersion(spark, p, v)
        .filter(col("k") === 3L).count() == 0, s"key 3 survives v=$v")
    }
    // everything else is intact, per version
    assert(Timeline.readVersion(spark, p, 0L).count() == 5)
    assert(Timeline.readVersion(spark, p, 2L).count() == 7)
    // history's recorded row counts refreshed (archived line included)
    val counts = Timeline.instants(p).map(i => i.version -> i.n_rows).toMap
    assert(counts == Map(0L -> 5L, 1L -> 6L, 2L -> 7L))
    // a key that never existed: zero rewrites, nothing changes
    val rep2 = SqlCall.exec(spark, "CALL purge_key('sqlcall_pk4', 999)")
      .as[(String, String)].collect().toMap
    assert(rep2("table") == "versions_rewritten=0")
    // crash repair: simulate a purge that died between its two renames
    // (live dir gone, staged survivors present) — the next purge
    // completes the swap before doing anything else
    val staged = java.nio.file.Paths.get(p, "_purge_v2")
    val live = java.nio.file.Paths.get(p, "v=2")
    Files.move(live, staged)
    SqlCall.exec(spark, "CALL purge_key('sqlcall_pk4', 888)")
    assert(Files.exists(live) && !Files.exists(staged))
    assert(Timeline.readVersion(spark, p, 2L).count() == 7)
  }

  test("archive_commits folds a MOR seq-ts log; pre-boundary TIMESTAMP AS OF resolves") {
    val p = Files.createTempDirectory("sqlcallmarch").toString + "/t"
    MorTable.create((1L to 4L).map(k => (k, 1L, k * 1.0)).toDF("k", "pc", "v"),
      p, keys = Seq("k"), precombine = "pc")                         // seq 0
    val afterCreate = System.currentTimeMillis()
    Thread.sleep(5)
    MorTable.upsertInto(p, Seq((5L, 1L, 5.0)).toDF("k", "pc", "v")) // seq 1
    Thread.sleep(5)
    val afterSeq1 = System.currentTimeMillis()
    Thread.sleep(5)
    MorTable.upsertInto(p, Seq((6L, 1L, 6.0)).toDF("k", "pc", "v")) // seq 2
    MorTable.upsertInto(p, Seq((7L, 1L, 7.0)).toDF("k", "pc", "v")) // seq 3
    Catalog.registerLayoutTable(spark, "sqlcall_march", "mor", p)
    // fold all but the newest line into `_commits_archive` — the last
    // unbounded commit-metadata log any layout carried
    val archived = SqlCall.exec(spark,
      "CALL archive_commits('sqlcall_march', 1)").as[Long].collect().toSeq
    assert(archived == Seq(0L, 1L, 2L))
    // pre-boundary instants resolve THROUGH the archive
    assert(MorTable.resolveAsOf(p, afterSeq1) == 1L)
    assert(MorTable.resolveAsOf(p, afterCreate) == 0L)
    assert(SqlRead.select(spark,
      s"SELECT k FROM sqlcall_march TIMESTAMP AS OF $afterSeq1").count() == 5)
    // nothing left to fold → empty report, not an error
    assert(SqlCall.exec(spark,
      "CALL archive_commits('sqlcall_march', 4)").count() == 0)
  }

  test("savepoint procedures: pin, list, restore as a new commit, release") {
    import org.apache.spark.sql.functions.col
    val p = Files.createTempDirectory("sqlcallsp").toString + "/t"
    BucketTable.create(Seq((1L, 1L, 10.0), (2L, 1L, 20.0)).toDF("k", "pc", "v"),
      p, keys = Seq("k"), precombine = "pc", numBuckets = 4)
    Catalog.registerLayoutTable(spark, "sqlcall_sp", "bucket", p)
    SqlCall.exec(spark, "CALL create_savepoint('sqlcall_sp', 'prerun')")
    BucketTable.upsertInto(spark, p, Seq((1L, 2L, 99.0)).toDF("k", "pc", "v"))
    assert(SqlCall.exec(spark, "CALL show_savepoints('sqlcall_sp')")
      .as[String].collect().toSeq == Seq("prerun"))
    SqlCall.exec(spark, "CALL rollback_to_savepoint('sqlcall_sp', 'prerun')")
    val got = BucketTable.read(spark, p).as[(Long, Long, Double)]
      .collect().map(r => r._1 -> r._3).toMap
    assert(got == Map(1L -> 10.0, 2L -> 20.0))
    SqlCall.exec(spark, "CALL delete_savepoint('sqlcall_sp', 'prerun')")
    assert(SqlCall.exec(spark, "CALL show_savepoints('sqlcall_sp')")
      .count() == 0)
    // every layout pins — the timeline pin is covered in the CALL
    // family arm; here just the dispatch line
    val tl = mkTimeline("sqlcall_sp_tl")
    SqlCall.exec(spark, "CALL create_savepoint('sqlcall_sp_tl', 'x')")
    assert(Timeline.savepoints(tl) == Seq("x"))
  }

  test("savepoint procedures on the partitioned layout") {
    import org.apache.spark.sql.functions.col
    val p = Files.createTempDirectory("sqlcallspp").toString + "/t"
    PartitionedTable.create(
      Seq((1L, 1L, 1.0, "a"), (2L, 1L, 2.0, "b")).toDF("k", "pc", "v", "d"),
      p, keys = Seq("k"), precombine = "pc", partitionCols = Seq("d"))
    Catalog.registerLayoutTable(spark, "sqlcall_spp", "partitioned", p)
    SqlCall.exec(spark, "CALL create_savepoint('sqlcall_spp', 'preload')")
    PartitionedTable.upsertInto(spark, p,
      Seq((1L, 2L, 99.0, "a"), (3L, 1L, 3.0, "b")).toDF("k", "pc", "v", "d"))
    assert(SqlCall.exec(spark, "CALL show_savepoints('sqlcall_spp')")
      .as[String].collect().toSeq == Seq("preload"))
    // time-travel read of the pin BEFORE restoring: live table keeps
    // the post-upsert state, the savepoint serves the pinned one
    assert(SqlCall.exec(spark, "CALL read_savepoint('sqlcall_spp', 'preload')")
      .select(col("k"), col("v"))
      .as[(Long, Double)].collect().toMap == Map(1L -> 1.0, 2L -> 2.0))
    assert(PartitionedTable.read(spark, p).count() == 3)
    SqlCall.exec(spark, "CALL rollback_to_savepoint('sqlcall_spp', 'preload')")
    assert(PartitionedTable.read(spark, p).select(col("k"), col("v"))
      .as[(Long, Double)].collect().toMap == Map(1L -> 1.0, 2L -> 2.0))
    SqlCall.exec(spark, "CALL delete_savepoint('sqlcall_spp', 'preload')")
    assert(SqlCall.exec(spark, "CALL show_savepoints('sqlcall_spp')")
      .count() == 0)
  }

  test("file-level clean for the bucket layout; wrong shapes fail loudly") {
    val p = Files.createTempDirectory("sqlcallb").toString + "/t"
    BucketTable.create(
      (1 to 16).map(i => (i.toLong, 1L, i.toDouble)).toDF("k", "pc", "v"),
      p, keys = Seq("k"), precombine = "pc", numBuckets = 4)
    BucketTable.upsertInto(spark, p,
      Seq((1L, 2L, 100.0)).toDF("k", "pc", "v"))
    Catalog.registerLayoutTable(spark, "call_b", "bucket", p)
    // the superseded generation of bucket(1) is reclaimable
    assert(SqlCall.exec(spark, "CALL clean('call_b')").count() >= 1)
    // show_commits answers from the bucket layout's own commit log
    assert(SqlCall.exec(spark, "CALL show_commits('call_b')")
      .select("version").as[Long].collect().toSeq == Seq(1L, 2L))
    val wrongLayout = intercept[IllegalArgumentException] {
      SqlCall.exec(spark, "CALL clean_commits('call_b', 1)")
    }
    assert(wrongLayout.getMessage.contains("timeline"))
    val unknown = intercept[IllegalArgumentException] {
      SqlCall.exec(spark, "CALL vacuum('call_b')")
    }
    assert(unknown.getMessage.contains("supported"))
    val nonLiteral = intercept[IllegalArgumentException] {
      SqlCall.exec(spark, "CALL clean_commits('call_b', 1 + 1)")
    }
    assert(nonLiteral.getMessage.contains("literal"))
  }

  test("run_clustering rewrites the partitioned layout sorted; data intact") {
    val p = Files.createTempDirectory("sqlcallcl").toString + "/t"
    val df = (1 to 200).map(i =>
      (i.toLong, 1L, s"d${i % 2}", (i * 37 % 200).toDouble))
      .toDF("k", "pc", "part", "v")
    PartitionedTable.create(df, p, keys = Seq("k"), precombine = "pc",
      partitionCols = Seq("part"))
    Catalog.registerLayoutTable(spark, "call_cl", "partitioned", p)
    val gen = SqlCall.exec(spark, "CALL run_clustering('call_cl', 'v')")
      .as[Long].head()
    assert(gen >= 1L)
    val got = PartitionedTable.read(spark, p)
      .as[(Long, Long, String, Double)].collect()
    assert(got.length == 200 && got.map(_._1).toSet == (1 to 200).map(_.toLong).toSet)
    // every layout clusters now — the timeline sorted replacecommit is
    // covered in the mor/bloom CALL arm; no refusal case remains among
    // the registered layouts
  }

  test("run_bootstrap onboards a parquet dir as a registered MOR table") {
    val base = Files.createTempDirectory("sqlcallbs").toString
    val src = s"$base/src"
    (1 to 20).map(i => (i.toLong, 1L, i.toDouble)).toDF("k", "pc", "v")
      .write.parquet(src)
    SqlCall.exec(spark,
      s"CALL run_bootstrap('call_bs', '$src', '$base/t', 'k', 'pc')")
    // zero data rewrite: the table dir holds only metadata, reads
    // resolve the source in place
    assert(!Files.list(java.nio.file.Paths.get(s"$base/t")).iterator()
      .asScala.exists(_.getFileName.toString.startsWith("base=")))
    val n = SqlRead.select(spark, "SELECT count(*) AS n FROM call_bs")
      .as[Long].head()
    assert(n == 20L)
    // and it is a live MOR table: DML appends, compaction owns the data
    SqlMerge.exec(spark, "DELETE FROM call_bs WHERE k > 15")
    assert(SqlRead.select(spark, "SELECT count(*) AS n FROM call_bs")
      .as[Long].head() == 15L)
    SqlCall.exec(spark, "CALL run_compaction('call_bs')")
    assert(MorTable.readOptimized(spark, s"$base/t").count() == 15L)
  }

  test("show_schema_state lists the rename map and dropped tombstones") {
    val p = Files.createTempDirectory("callsch").toString + "/t"
    BucketTable.create(
      Seq((1L, 1L, 10.0, "x")).toDF("k", "pc", "v", "tag"), p,
      keys = Seq("k"), precombine = "pc", numBuckets = 2)
    Catalog.registerLayoutTable(spark, "call_sch", "bucket", p)
    assert(SqlCall.exec(spark, "CALL show_schema_state('call_sch')")
      .count() == 0)
    SqlDdl.exec(spark, "ALTER TABLE call_sch RENAME COLUMN v TO amount")
    SqlDdl.exec(spark, "ALTER TABLE call_sch DROP COLUMNS (tag)")
    val got = SqlCall.exec(spark, "CALL show_schema_state('call_sch')")
      .as[(String, String, String)].collect().toSet
    assert(got == Set(("renamed", "amount", "v"), ("dropped", "", "tag")))
    // show_files resolves the live snapshot's file set for any layout
    val files = SqlCall.exec(spark, "CALL show_files('call_sch')")
      .as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains("gen=")))
  }

  test("show_partitions lists the manifest's live slices") {
    val p = Files.createTempDirectory("callpart").toString + "/t"
    PartitionedTable.create(
      Seq((1L, 1L, 10.0, "a"), (2L, 1L, 20.0, "b")).toDF("k", "pc", "v", "part"),
      p, keys = Seq("k"), precombine = "pc", tieBreak = Nil,
      partitionCols = Seq("part"))
    Catalog.registerLayoutTable(spark, "call_parts", "partitioned", p)
    val got = SqlCall.exec(spark, "CALL show_partitions('call_parts')")
      .as[(String, Long)].collect().toMap
    assert(got.keySet.exists(_.contains("part=a")) &&
      got.keySet.exists(_.contains("part=b")) && got.size == 2)
    val e = intercept[IllegalArgumentException] {
      SqlCall.exec(spark, "CALL show_partitions('call_sch')")
    }
    assert(e.getMessage.contains("not a partitioned-layout"))
  }

  test("savepoint CALL family on the bloom and mor layouts") {
    import org.apache.spark.sql.functions.col
    // bloom
    val bp = Files.createTempDirectory("sqlcall").toString + "/t"
    BloomTable.create(
      Seq((1L, 1L, 10.0), (2L, 1L, 20.0)).toDF("k", "pc", "v"),
      bp, keys = Seq("k"), precombine = "pc", numFiles = 2)
    Catalog.registerLayoutTable(spark, "call_sp_bl", "bloom", bp)
    SqlCall.exec(spark, "CALL create_savepoint('call_sp_bl', 'pin')")
    BloomTable.upsertInto(spark, bp,
      Seq((1L, 2L, -1.0), (3L, 1L, 30.0)).toDF("k", "pc", "v"))
    assert(SqlCall.exec(spark, "CALL show_savepoints('call_sp_bl')")
      .as[String].collect().toSeq == Seq("pin"))
    assert(SqlCall.exec(spark, "CALL read_savepoint('call_sp_bl', 'pin')")
      .select(col("v")).as[Double].collect().toSet == Set(10.0, 20.0))
    SqlCall.exec(spark, "CALL rollback_to_savepoint('call_sp_bl', 'pin')")
    assert(Catalog.readTable(spark, "call_sp_bl")
      .select(col("v")).as[Double].collect().toSet == Set(10.0, 20.0))
    SqlCall.exec(spark, "CALL delete_savepoint('call_sp_bl', 'pin')")
    assert(BloomTable.savepoints(bp).isEmpty)
    // mor
    val mp = Files.createTempDirectory("sqlcall").toString + "/t"
    MorTable.create(Seq((1L, 1L, 10.0), (2L, 1L, 20.0)).toDF("k", "pc", "v"),
      mp, keys = Seq("k"), precombine = "pc")
    Catalog.registerLayoutTable(spark, "call_sp_mor", "mor", mp)
    SqlCall.exec(spark, "CALL create_savepoint('call_sp_mor', 'pin')")
    MorTable.upsertInto(mp, Seq((2L, 2L, -1.0)).toDF("k", "pc", "v"))
    assert(SqlCall.exec(spark, "CALL read_savepoint('call_sp_mor', 'pin')")
      .select(col("v")).as[Double].collect().toSet == Set(10.0, 20.0))
    SqlCall.exec(spark, "CALL rollback_to_savepoint('call_sp_mor', 'pin')")
    assert(Catalog.readTable(spark, "call_sp_mor")
      .select(col("v")).as[Double].collect().toSet == Set(10.0, 20.0))
    // the fsview savepoint counter sees the mor pin
    val pins = SqlCall.exec(spark, "CALL show_fsview('call_sp_mor')")
      .filter(col("metric") === "savepoints")
      .select(col("value")).as[Long].head()
    assert(pins == 1L)
    // timeline: the pin is a version number; clean keeps it, restore
    // re-commits it — savepoints are layout-universal
    val tp = mkTimeline("call_sp_tl")
    SqlCall.exec(spark, "CALL create_savepoint('call_sp_tl', 'pin')")
    Timeline.upsertInto(spark, tp, Seq((9L, 1L, 90.0)).toDF("k", "pc", "v"),
      keys = Seq("k"), precombine = "pc", atMs = Some(9000L))
    // pin-aware retention: v3 (pinned) survives a clean that would
    // otherwise sweep it
    SqlCall.exec(spark, "CALL clean_commits('call_sp_tl', 1)")
    assert(Timeline.versions(tp).contains(3L))
    assert(SqlCall.exec(spark, "CALL read_savepoint('call_sp_tl', 'pin')")
      .count() == 4)
    SqlCall.exec(spark, "CALL rollback_to_savepoint('call_sp_tl', 'pin')")
    assert(Catalog.readTable(spark, "call_sp_tl").count() == 4)
    SqlCall.exec(spark, "CALL delete_savepoint('call_sp_tl', 'pin')")
    assert(Timeline.savepoints(tp).isEmpty)
    // the read-only MOR view still refuses loudly (not a writable layout)
    Catalog.registerLayoutTable(spark, "call_sp_mor_ro", "mor_ro", mp)
    val e = intercept[IllegalArgumentException] {
      SqlCall.exec(spark, "CALL create_savepoint('call_sp_mor_ro', 'p')")
    }
    assert(e.getMessage.contains("savepoints pin"))
  }

  test("run_clustering and run_bootstrap cover the mor/bloom/timeline silos") {
    import org.apache.spark.sql.functions.col
    // mor clustering = sorted compaction (content-preserving)
    val mp = Files.createTempDirectory("sqlcall").toString + "/t"
    MorTable.create(
      Seq((1L, 1L, 30.0), (2L, 1L, 10.0), (3L, 1L, 20.0)).toDF("k", "pc", "v"),
      mp, keys = Seq("k"), precombine = "pc")
    MorTable.upsertInto(mp, Seq((1L, 2L, 5.0)).toDF("k", "pc", "v"))
    Catalog.registerLayoutTable(spark, "call_cl_mor", "mor", mp)
    val head = MorTable.changeHead(mp)
    val gen = SqlCall.exec(spark, "CALL run_clustering('call_cl_mor', 'v')")
      .as[Long].head()
    assert(gen == 1L && MorTable.changeHead(mp) == head)
    assert(Catalog.readTable(spark, "call_cl_mor")
      .select(col("v")).as[Double].collect().toSet == Set(5.0, 10.0, 20.0))
    // bloom metadata-only bootstrap through the CALL front door
    val dir = Files.createTempDirectory("sqlcall")
    Seq((1L, 1L, 10.0), (2L, 1L, 20.0)).toDF("k", "pc", "v")
      .write.parquet(dir.toString + "/lake")
    SqlCall.exec(spark,
      s"CALL run_bootstrap('call_bs_bl', '${dir.toString}/lake', " +
        s"'${dir.toString}/t', 'k', 'pc', 'bloom')")
    assert(Catalog.readTable(spark, "call_bs_bl").count() == 2)
    // the mapping procedure lists every still-load-bearing source file
    val mapped0 = SqlCall.exec(spark,
      "CALL show_bootstrap_mapping('call_bs_bl')")
      .as[(String, String)].collect()
    assert(mapped0.nonEmpty && mapped0.forall { case (s, st) =>
      s.startsWith("/") && st == "in_place" })
    BloomTable.upsertInto(spark, dir.toString + "/t",
      Seq((1L, 2L, -1.0)).toDF("k", "pc", "v"))
    assert(Catalog.readTable(spark, "call_bs_bl")
      .select(col("v")).as[Double].collect().toSet == Set(-1.0, 20.0))
    // migration shrinks the mapping: the touched source file left it
    assert(SqlCall.exec(spark, "CALL show_bootstrap_mapping('call_bs_bl')")
      .count() < mapped0.length)
    // mor: dir-level mapping, in_place until compaction owns the base
    val bsm = Files.createTempDirectory("sqlcall")
    Seq((1L, 1L, 1.0), (2L, 1L, 2.0)).toDF("k", "pc", "v")
      .write.parquet(bsm.toString + "/lake")
    SqlCall.exec(spark,
      s"CALL run_bootstrap('call_bs_m2', '${bsm.toString}/lake', " +
        s"'${bsm.toString}/t', 'k', 'pc', 'mor')")
    assert(SqlCall.exec(spark, "CALL show_bootstrap_mapping('call_bs_m2')")
      .as[(String, String)].collect().toSeq ==
      Seq((bsm.toString + "/lake", "in_place")))
    MorTable.compact(spark, bsm.toString + "/t")
    assert(SqlCall.exec(spark, "CALL show_bootstrap_mapping('call_bs_m2')")
      .as[(String, String)].collect().toSeq ==
      Seq((bsm.toString + "/lake", "migrated")))
    // a mor table that was never bootstrapped reports an empty mapping
    assert(SqlCall.exec(spark,
      "CALL show_bootstrap_mapping('call_cl_mor')").count() == 0)
    // timeline clustering = sorted replacecommit: content preserved,
    // history untouched, a new version appended
    val tp2 = mkTimeline("call_cl_tl2")
    val before = Timeline.read(spark, tp2)
      .as[(Long, Long, Double)].collect().toSet
    val v = SqlCall.exec(spark, "CALL run_clustering('call_cl_tl2', 'v')")
      .as[Long].head()
    assert(v == 4L)
    assert(Timeline.instants(tp2).last.action == "replacecommit")
    assert(Timeline.read(spark, tp2)
      .as[(Long, Long, Double)].collect().toSet == before)
    val vs = spark.read.parquet(s"$tp2/v=4").select("v")
      .as[Double].collect().toSeq
    assert(vs == vs.sorted)
    // timeline bootstrap: one precombined full-snapshot v0 commit
    // (FULL_RECORD by contract — versions are in-place-rewritable
    // snapshot dirs, so external files can never serve as history);
    // the registration carries the declared key config, so keyed DML
    // and time travel work immediately
    val dir2 = Files.createTempDirectory("sqlcall")
    Seq((1L, 1L, 10.0), (1L, 2L, 11.0), (2L, 1L, 20.0)).toDF("k", "pc", "v")
      .write.parquet(dir2.toString + "/lake")
    SqlCall.exec(spark,
      s"CALL run_bootstrap('call_bs_tl', '${dir2.toString}/lake', " +
        s"'${dir2.toString}/t', 'k', 'pc', 'timeline')")
    // precombine collapsed the duplicate key at onboarding
    assert(Catalog.readTable(spark, "call_bs_tl")
      .select(col("v")).as[Double].collect().toSet == Set(11.0, 20.0))
    assert(Timeline.latestVersion(dir2.toString + "/t").contains(0L))
    Timeline.upsertInto(spark, dir2.toString + "/t",
      Seq((2L, 2L, -2.0)).toDF("k", "pc", "v"),
      keys = Seq("k"), precombine = "pc")
    assert(Catalog.readTable(spark, "call_bs_tl")
      .select(col("v")).as[Double].collect().toSet == Set(11.0, -2.0))
    // v0 (the onboarded snapshot) still time-travels
    assert(SqlRead.select(spark,
      "SELECT v FROM call_bs_tl VERSION AS OF 0")
      .as[Double].collect().toSet == Set(11.0, 20.0))
    // FULL_RECORD layouts refuse the mapping procedure with the
    // contract stated (timeline bootstrap writes owned snapshots —
    // nothing external is ever load-bearing)
    intercept[IllegalArgumentException] {
      SqlCall.exec(spark, "CALL show_bootstrap_mapping('call_bs_tl')")
    }
  }
}
