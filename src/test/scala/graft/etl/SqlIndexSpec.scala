package graft.etl

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.col

/** `CREATE INDEX` / `DROP INDEX` through Spark's own parser, dispatched
  * to the engine's index kinds — and the load-bearing part: a
  * SQL-created secondary index stays CORRECT under every front-door
  * write (the upsert-moves-indexed-value → index-served-DELETE
  * composition that silently deleted wrong rows before the SQL DML
  * routes maintained the index).
  */
class SqlIndexSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  private def rows(t: (Long, Long, String, Double)*) =
    t.toSeq.toDF("k", "pc", "etype", "v")

  private def bucketBacked(name: String): String = {
    val path = fresh("sqlidx")
    BucketTable.create(rows((1 to 16).map(i =>
      (i.toLong, 1L, if (i % 2 == 0) "click" else "view", i.toDouble)): _*),
      path, keys = Seq("k"), precombine = "pc", numBuckets = 4)
    Catalog.registerLayoutTable(spark, name, "bucket", path)
    path
  }

  private def contents(path: String): Map[Long, (String, Double)] =
    BucketTable.read(spark, path).as[(Long, Long, String, Double)]
      .collect().map(r => r._1 -> (r._3, r._4)).toMap

  test("secondary index: create, serve SELECT, registry, drop") {
    val path = bucketBacked("sql_idx_sec")
    val rep = SqlIndex.exec(spark,
      "CREATE INDEX sec1 ON sql_idx_sec USING SECONDARY (etype)")
    assert(rep.as[(String, String, String)].collect().toSeq ==
      Seq(("sec1", "secondary", s"${path}_idx_sec1")))
    // the SELECT route serves the equality through the index
    val served = SqlRead.select(spark,
      "SELECT k FROM sql_idx_sec WHERE etype = 'click' AND k <= 8")
      .as[Long].collect().toSet
    assert(served == Set(2L, 4L, 6L, 8L))
    // registry lists it; duplicate names rejected; IF NOT EXISTS no-ops
    assert(SqlCall.exec(spark, "CALL show_indexes('sql_idx_sec')")
      .as[(String, String, String)].collect().map(_._1).toSeq == Seq("sec1"))
    intercept[IllegalArgumentException] {
      SqlIndex.exec(spark,
        "CREATE INDEX sec1 ON sql_idx_sec USING SECONDARY (etype)")
    }
    SqlIndex.exec(spark,
      "CREATE INDEX IF NOT EXISTS sec1 ON sql_idx_sec USING SECONDARY (etype)")
    // drop removes binding + artifact
    SqlIndex.exec(spark, "DROP INDEX sec1 ON sql_idx_sec")
    assert(Catalog.secondaryIndexOf(spark, "sql_idx_sec").isEmpty)
    assert(!Files.exists(Paths.get(s"${path}_idx_sec1")))
    assert(SqlCall.exec(spark, "CALL show_indexes('sql_idx_sec')").count() == 0)
    intercept[IllegalArgumentException] {
      SqlIndex.exec(spark, "DROP INDEX sec1 ON sql_idx_sec")
    }
    SqlIndex.exec(spark, "DROP INDEX IF EXISTS sec1 ON sql_idx_sec")
  }

  test("IN-list and IS NULL SELECTs are index-served with bounded probes") {
    val path = fresh("sqlidxin")
    // 16 keys; two rare values on single keys (so primary pruning is
    // observable) and NULLs on k%4==3 (nulls are indexable: xxhash64
    // routes them to a deterministic bucket)
    def etypeOf(i: Int): String =
      if (i == 5) "rare" else if (i == 9) "rare2"
      else if (i % 4 == 3) null else "common"
    BucketTable.create(
      (1 to 16).map(i => (i.toLong, 1L, etypeOf(i), i.toDouble))
        .toDF("k", "pc", "etype", "v"),
      path, keys = Seq("k"), precombine = "pc", numBuckets = 4)
    Catalog.registerLayoutTable(spark, "sql_idx_in", "bucket", path)
    SqlIndex.exec(spark,
      "CREATE INDEX in1 ON sql_idx_in USING SECONDARY (etype)")
    val idxPath = s"${path}_idx_in1"

    // probe-count pin at the probe level (the route's key resolution is
    // checkpointed, so the final plan's lineage can't show it): ONE
    // index bucket per combination — equality, and NULL alike
    def idxBucketsOf(values: Seq[Any]): Set[String] =
      SecondaryIndex.lookupKeys(spark, path, idxPath, values).inputFiles
        .flatMap("__bucket=(\\d+)".r.findFirstMatchIn(_).map(_.group(1)))
        .toSet
    assert(idxBucketsOf(Seq("rare")).size == 1)
    assert(idxBucketsOf(Seq(null)).size == 1,
      "IS NULL must probe exactly one index bucket")

    // IN-list through the SQL route: correct rows, and the PRIMARY read
    // touches only the hit keys' buckets (a scan would read all 4)
    val inDf = SqlRead.select(spark,
      "SELECT k FROM sql_idx_in WHERE etype IN ('rare', 'rare2')")
    assert(inDf.as[Long].collect().toSet == Set(5L, 9L))
    val primaryBuckets = inDf.inputFiles.filterNot(_.contains("_idx_in1"))
      .flatMap("__bucket=(\\d+)".r.findFirstMatchIn(_).map(_.group(1)))
      .toSet
    assert(primaryBuckets.nonEmpty && primaryBuckets.size <= 2,
      s"expected <=2 primary buckets for 2 hit keys, read $primaryBuckets")

    // IS NULL through the SQL route: an indexed point read
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_in WHERE etype IS NULL")
      .as[Long].collect().toSet == Set(3L, 7L, 11L, 15L))

    // beyond InListMax combinations the route falls through to the
    // scan paths — still correct, just not index-served
    val bigList = (1 to 70).map(i => s"'t$i'").mkString(", ") + ", 'rare'"
    assert(SqlRead.select(spark,
      s"SELECT k FROM sql_idx_in WHERE etype IN ($bigList)")
      .as[Long].collect().toSet == Set(5L))
    // a residual conjunct still applies on top of the served rows
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_in WHERE etype IN ('rare', 'rare2') AND k <= 8")
      .as[Long].collect().toSet == Set(5L))

    // maintenance keeps NULL mappings honest in BOTH directions: an
    // UPDATE moving a value to NULL must serve through IS NULL, and
    // one moving a NULL away must stop serving it
    SqlMerge.exec(spark, "UPDATE sql_idx_in SET etype = NULL WHERE k = 1")
    SqlMerge.exec(spark, "UPDATE sql_idx_in SET etype = 'woken' WHERE k = 3")
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_in WHERE etype IS NULL")
      .as[Long].collect().toSet == Set(1L, 7L, 11L, 15L))
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_in WHERE etype IN ('woken')")
      .as[Long].collect().toSet == Set(3L))
    ()
  }

  test("front-door writes maintain a SQL-created secondary index") {
    val path = bucketBacked("sql_idx_maint")
    SqlIndex.exec(spark,
      "CREATE INDEX m1 ON sql_idx_maint USING SECONDARY (etype)")
    // MERGE moves k=2's indexed value click -> view
    Seq((2L, 2L, "view", 20.0)).toDF("k", "pc", "etype", "v")
      .createOrReplaceTempView("idx_m_src")
    SqlMerge.exec(spark,
      """MERGE INTO sql_idx_maint t USING idx_m_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // UPDATE moves k=4 the same way through the predicate route
    SqlMerge.exec(spark,
      "UPDATE sql_idx_maint SET etype = 'view' WHERE k = 4")
    // the index-served DELETE must NOT remove the moved rows
    SqlMerge.exec(spark, "DELETE FROM sql_idx_maint WHERE etype = 'click'")
    val got = contents(path)
    assert(got.contains(2L) && got(2L)._1 == "view")
    assert(got.contains(4L) && got(4L)._1 == "view")
    assert(got.keySet.filter(_ % 2 == 0) == Set(2L, 4L)) // clicks gone
    // and the index itself serves the current state
    val viewsNow = SqlRead.select(spark,
      "SELECT k FROM sql_idx_maint WHERE etype = 'view'")
      .as[Long].collect().toSet
    assert(viewsNow == got.keySet)
  }

  test("record index on a bloom table: create serves point reads; drop") {
    val path = fresh("sqlidxr")
    BloomTable.create(rows((1 to 32).map(i =>
      (i.toLong, 1L, "e", i.toDouble)): _*), path,
      keys = Seq("k"), precombine = "pc", numFiles = 8)
    Catalog.registerLayoutTable(spark, "sql_idx_rli", "bloom", path)
    // wrong columns rejected: the RLI maps the PRIMARY KEY
    intercept[IllegalArgumentException] {
      SqlIndex.exec(spark,
        "CREATE INDEX r1 ON sql_idx_rli USING RECORD (etype)")
    }
    SqlIndex.exec(spark, "CREATE INDEX r1 ON sql_idx_rli USING RECORD (k)")
    assert(RecordIndex.exists(path))
    val got = SqlRead.select(spark,
      "SELECT v FROM sql_idx_rli WHERE k = 7").as[Double].collect()
    assert(got.toSeq == Seq(7.0))
    SqlIndex.exec(spark, "DROP INDEX r1 ON sql_idx_rli")
    assert(!RecordIndex.exists(path))
    // reads fall back to the bloom route
    val fallback = SqlRead.select(spark,
      "SELECT v FROM sql_idx_rli WHERE k = 7").as[Double].collect()
    assert(fallback.toSeq == Seq(7.0))
  }

  test("column-stats index: create binds skipping; functional expr option") {
    val path = fresh("sqlidxs")
    BucketTable.create(rows((1 to 64).map(i =>
      (i.toLong, 1L, "e", i.toDouble)): _*), path,
      keys = Seq("k"), precombine = "pc", numBuckets = 8)
    Catalog.registerLayoutTable(spark, "sql_idx_stats", "bucket", path)
    SqlIndex.exec(spark,
      """CREATE INDEX s1 ON sql_idx_stats USING COLUMN_STATS
        |(v, vneg OPTIONS (expr '0 - v'))""".stripMargin)
    assert(Catalog.statsIndexOf(spark, "sql_idx_stats")
      .contains(s"${path}_stats_s1"))
    assert(StatsIndex.columns(s"${path}_stats_s1").toSet == Set("v", "vneg"))
    // the SQL read route consults it (correctness; the skip itself is
    // pinned by StatsIndexSpec/PlanAssertSpec machinery)
    val got = SqlRead.select(spark,
      "SELECT k FROM sql_idx_stats WHERE v >= 63.0").as[Long].collect().toSet
    assert(got == Set(63L, 64L))
    SqlIndex.exec(spark, "DROP INDEX s1 ON sql_idx_stats")
    assert(Catalog.statsIndexOf(spark, "sql_idx_stats").isEmpty)
    assert(!Files.exists(Paths.get(s"${path}_stats_s1")))
  }

  test("column-stats index on a partitioned table: skip serves, deltas fall through") {
    val path = fresh("sqlidxps")
    // two partitions, values clustered so file min/max prune cleanly
    (1 to 64).map(i => (s"d${i % 2}", i.toLong, 1L, i.toDouble))
      .toDF("day", "k", "pc", "v")
      .createOrReplaceTempView("sql_idx_ps_src")
    PartitionedTable.create(spark.table("sql_idx_ps_src"), path,
      keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    PartitionedTable.cluster(spark, path, sortCols = Seq("v"),
      targetFileRows = 8L)
    Catalog.registerLayoutTable(spark, "sql_idx_ps", "partitioned", path)
    SqlIndex.exec(spark,
      "CREATE INDEX ps1 ON sql_idx_ps USING COLUMN_STATS (v)")
    val q = SqlRead.select(spark, "SELECT k FROM sql_idx_ps WHERE v >= 61.0")
    assert(q.as[Long].collect().toSet == Set(61L, 62L, 63L, 64L))
    // the plan reads FEWER files than the live set — the skip is real
    val live = PartitionedTable.read(spark, path).inputFiles.toSet
    val planned = q.inputFiles.toSet
    assert(planned.subsetOf(live) && planned.size < live.size,
      s"expected a pruned file set, got ${planned.size} of ${live.size}")
    // a pending delta makes raw file rows diverge from the snapshot —
    // the route must fall through to the MERGED read (correct rows,
    // no skip), not serve the stale base version
    PartitionedTable.upsertDelta(spark, path,
      Seq(("d0", 62L, 2L, 0.5)).toDF("day", "k", "pc", "v"))
    val got2 = SqlRead.select(spark,
      "SELECT k FROM sql_idx_ps WHERE v >= 61.0").as[Long].collect().toSet
    assert(got2 == Set(61L, 63L, 64L))
    // compaction folds the log and the skip path resumes
    PartitionedTable.compactDeltas(spark, path)
    val q3 = SqlRead.select(spark, "SELECT k FROM sql_idx_ps WHERE v >= 61.0")
    assert(q3.as[Long].collect().toSet == Set(61L, 63L, 64L))
    assert(q3.inputFiles.toSet.size <
      PartitionedTable.read(spark, path).inputFiles.toSet.size)
    SqlIndex.exec(spark, "DROP INDEX ps1 ON sql_idx_ps")
    assert(Catalog.statsIndexOf(spark, "sql_idx_ps").isEmpty)
  }

  test("MOR covering index: zero-primary-access serving, every write path maintains") {
    val path = fresh("sqlidxmor")
    MorTable.create(rows((1 to 16).map(i =>
      (i.toLong, 1L, if (i % 2 == 0) "click" else "view", i.toDouble)): _*),
      path, keys = Seq("k"), precombine = "pc")
    Catalog.registerLayoutTable(spark, "sql_idx_mor", "mor", path)
    SqlIndex.exec(spark,
      "CREATE INDEX m1 ON sql_idx_mor USING SECONDARY (etype)")
    // served SELECT: correct rows AND the plan reads ONLY index files —
    // the covering index's whole point on a one-file-group layout is
    // that the merge scan never happens
    val q = SqlRead.select(spark,
      "SELECT k FROM sql_idx_mor WHERE etype = 'click'")
    assert(q.as[Long].collect().toSet == (2 to 16 by 2).map(_.toLong).toSet)
    val files = q.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(_.contains("_idx_m1")),
      s"covering serve must read only index files, got $files")
    // SQL MERGE moves an indexed value (k=2 click -> view): the engine
    // write path reconciles the index, so the old mapping dies and the
    // new one serves
    SqlMerge.exec(spark,
      """MERGE INTO sql_idx_mor t
        |USING (SELECT CAST(2 AS BIGINT) AS k, CAST(5 AS BIGINT) AS pc,
        |       'view' AS etype, 2.5 AS v) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_mor WHERE etype = 'click'")
      .as[Long].collect().toSet == (4 to 16 by 2).map(_.toLong).toSet)
    assert(SqlRead.select(spark,
      "SELECT v FROM sql_idx_mor WHERE etype = 'view' AND k = 2")
      .as[Double].collect().toSeq == Seq(2.5))
    // programmatic writes maintain it too (engine-level binding, not a
    // SQL-route courtesy): an API upsert and an API delete both land
    MorTable.upsertInto(path, rows((99L, 1L, "click", 9.9)))
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_mor WHERE etype = 'click'")
      .as[Long].collect().toSet ==
      ((4 to 16 by 2).map(_.toLong).toSet + 99L))
    // index-served DELETE: victims resolve from the probed index
    // bucket, the tombstone append reconciles the mappings
    SqlMerge.exec(spark, "DELETE FROM sql_idx_mor WHERE etype = 'view'")
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_mor WHERE etype = 'view'").count() == 0)
    assert(MorTable.readSnapshot(spark, path)
      .select("etype").as[String].collect().toSet == Set("click"))
    // stale-cursor sanity: the index survives compaction untouched
    MorTable.compact(spark, path)
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_mor WHERE etype = 'click'").count() == 8L)
    // drop unbinds the engine-level maintenance hook with the artifact
    SqlIndex.exec(spark, "DROP INDEX m1 ON sql_idx_mor")
    assert(MorTable.boundSecondaryIndexes(path).isEmpty)
    assert(!Files.exists(Paths.get(s"${path}_idx_m1")))
  }

  test("partitioned secondary index: slice-confined serving, every write path maintains") {
    val path = fresh("sqlidxpart")
    def prows(t: (String, Long, Long, String, Double)*) =
      t.toSeq.toDF("day", "k", "pc", "etype", "v")
    // 3 day-partitions; 'rare' only on k=5 (day d2), so the serve plan
    // has exactly one slice to touch
    PartitionedTable.create(prows((1 to 12).map(i =>
      (s"d${i % 3}", i.toLong, 1L,
        if (i == 5) "rare" else if (i % 2 == 0) "click" else "view",
        i.toDouble)): _*),
      path, keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    Catalog.registerLayoutTable(spark, "sql_idx_part", "partitioned", path)
    SqlIndex.exec(spark,
      "CREATE INDEX p1 ON sql_idx_part USING SECONDARY (etype)")
    def served(sql: String): Set[Long] =
      SqlRead.select(spark, sql).as[Long].collect().toSet
    // served SELECT: correct rows AND the primary files the plan reads
    // are confined to the ONE slice the hit identity routes to
    val q = SqlRead.select(spark,
      "SELECT k FROM sql_idx_part WHERE etype = 'rare'")
    assert(q.as[Long].collect().toSeq == Seq(5L))
    val primary = q.inputFiles.toSeq.filterNot(_.contains("_idx_p1"))
    assert(primary.nonEmpty && primary.forall(_.contains("__p_day=d2")),
      s"serve must read only the routed slice, got $primary")
    // SQL UPDATE moves the indexed value (rewriteWhere route → the
    // engine binding reconciles): old mapping dies, new one serves
    SqlMerge.exec(spark, "UPDATE sql_idx_part SET etype = 'click' WHERE k = 5")
    assert(served("SELECT k FROM sql_idx_part WHERE etype = 'rare'").isEmpty)
    assert(served("SELECT k FROM sql_idx_part WHERE etype = 'click'") ==
      Set(2L, 4L, 5L, 6L, 8L, 10L, 12L))
    // programmatic writes maintain it too (engine-level binding):
    // CoW upsert, OCC upsert, delta append, delta tombstone
    PartitionedTable.upsertInto(spark, path, prows(("d0", 99L, 1L, "rare", 9.9)))
    assert(served("SELECT k FROM sql_idx_part WHERE etype = 'rare'") == Set(99L))
    PartitionedTable.upsertIntoOcc(spark, path, prows(("d2", 300L, 1L, "occ", 3.0)))
    assert(served("SELECT k FROM sql_idx_part WHERE etype = 'occ'") == Set(300L))
    PartitionedTable.upsertDelta(spark, path, prows(("d0", 99L, 2L, "view", 9.9)))
    assert(served("SELECT k FROM sql_idx_part WHERE etype = 'rare'").isEmpty)
    assert(served("SELECT k FROM sql_idx_part WHERE etype = 'view'") ==
      Set(1L, 3L, 7L, 9L, 11L, 99L))
    PartitionedTable.deleteDelta(spark, path, prows(("d0", 99L, 3L, "view", 0.0)))
    assert(served("SELECT k FROM sql_idx_part WHERE etype = 'view'") ==
      Set(1L, 3L, 7L, 9L, 11L))
    // index-composed DELETE: victims resolve from ONE probed index
    // bucket, only their slices rewrite, mappings tombstone in-pass
    SqlMerge.exec(spark, "DELETE FROM sql_idx_part WHERE etype = 'view'")
    assert(served("SELECT k FROM sql_idx_part WHERE etype = 'view'").isEmpty)
    assert(PartitionedTable.read(spark, path)
      .select("etype").as[String].collect().toSet == Set("click", "occ"))
    // partition overwrite: displaced mappings die wholesale
    PartitionedTable.insertOverwrite(spark, path,
      prows(("d1", 200L, 1L, "ow", 1.0)))
    assert(served("SELECT k FROM sql_idx_part WHERE etype = 'ow'") == Set(200L))
    assert(served("SELECT k FROM sql_idx_part WHERE etype = 'click'") ==
      Set(2L, 5L, 6L, 8L, 12L))
    // partition-only DELETE routes to dropPartitions — metadata-only,
    // but the dropped rows' mappings still die
    SqlMerge.exec(spark, "DELETE FROM sql_idx_part WHERE day = 'd0'")
    assert(served("SELECT k FROM sql_idx_part WHERE etype = 'click'") ==
      Set(2L, 5L, 8L))
    // restore under a bound index refuses loudly (no per-row diff to
    // reconcile by) — DROP INDEX first is the documented path
    PartitionedTable.savepoint(path, "s1")
    intercept[IllegalArgumentException] {
      PartitionedTable.restoreSavepoint(spark, path, "s1")
    }
    // drop unbinds the engine-level maintenance hook with the artifact
    SqlIndex.exec(spark, "DROP INDEX p1 ON sql_idx_part")
    assert(PartitionedTable.boundSecondaryIndexes(path).isEmpty)
    assert(!Files.exists(Paths.get(s"${path}_idx_p1")))
    PartitionedTable.restoreSavepoint(spark, path, "s1") // unbound: allowed
  }

  test("bloom secondary index: index-composed serving, every write path maintains") {
    val path = fresh("sqlidxbl")
    BloomTable.create(rows((1 to 16).map(i =>
      (i.toLong, 1L, if (i % 2 == 0) "click" else "view", i.toDouble)): _*),
      path, keys = Seq("k"), precombine = "pc", numFiles = 4)
    Catalog.registerLayoutTable(spark, "sql_idx_bl", "bloom", path)
    SqlIndex.exec(spark,
      "CREATE INDEX b1 ON sql_idx_bl USING SECONDARY (etype)")
    def served(sql: String): Set[Long] =
      SqlRead.select(spark, sql).as[Long].collect().toSet
    assert(served("SELECT k FROM sql_idx_bl WHERE etype = 'click'") ==
      (2 to 16 by 2).map(_.toLong).toSet)
    // SQL UPDATE moves the indexed value: the engine binding reconciles
    // inside the rewrite commit — old mapping dies, new one serves
    SqlMerge.exec(spark, "UPDATE sql_idx_bl SET etype = 'view' WHERE k = 2")
    assert(served("SELECT k FROM sql_idx_bl WHERE etype = 'click'") ==
      (4 to 16 by 2).map(_.toLong).toSet)
    // programmatic writes maintain it too (engine-level binding)
    BloomTable.upsertInto(spark, path, rows((99L, 1L, "click", 9.9)))
    assert(served("SELECT k FROM sql_idx_bl WHERE etype = 'click'") ==
      ((4 to 16 by 2).map(_.toLong).toSet + 99L))
    BloomTable.deleteFrom(spark, path, Seq(99L).toDF("k"))
    assert(served("SELECT k FROM sql_idx_bl WHERE etype = 'click'") ==
      (4 to 16 by 2).map(_.toLong).toSet)
    // index-composed UPDATE: victims resolve from one probed index
    // bucket, only their candidate files rewrite; the indexed value
    // moves and the binding reconciles in-pass
    SqlMerge.exec(spark,
      "UPDATE sql_idx_bl SET etype = 'seen' WHERE etype = 'click'")
    assert(served("SELECT k FROM sql_idx_bl WHERE etype = 'seen'") ==
      (4 to 16 by 2).map(_.toLong).toSet)
    SqlMerge.exec(spark,
      "UPDATE sql_idx_bl SET etype = 'click' WHERE etype = 'seen'")
    // index-composed DELETE: victims from ONE probed index bucket, only
    // their candidate files rewritten, mappings reconciled in-pass
    SqlMerge.exec(spark, "DELETE FROM sql_idx_bl WHERE etype = 'view'")
    assert(served("SELECT k FROM sql_idx_bl WHERE etype = 'view'").isEmpty)
    assert(BloomTable.read(spark, path)
      .select("etype").as[String].collect().toSet == Set("click"))
    // overwrite rebuilds the index from the replacement
    BloomTable.overwriteTable(spark, path, rows((500L, 1L, "ow", 5.0)))
    assert(served("SELECT k FROM sql_idx_bl WHERE etype = 'ow'") == Set(500L))
    assert(served("SELECT k FROM sql_idx_bl WHERE etype = 'click'").isEmpty)
    // drop unbinds the engine-level maintenance hook with the artifact
    SqlIndex.exec(spark, "DROP INDEX b1 ON sql_idx_bl")
    assert(BloomTable.boundSecondaryIndexes(path).isEmpty)
    assert(!Files.exists(Paths.get(s"${path}_idx_b1")))
  }

  test("record index on a partitioned table: one-slice key lookup, purge routes through") {
    val path = fresh("sqlrli")
    def prows(t: (String, Long, Long, String, Double)*) =
      t.toSeq.toDF("day", "k", "pc", "etype", "v")
    PartitionedTable.create(prows((1 to 12).map(i =>
      (s"d${i % 3}", i.toLong, 1L, "e", i.toDouble)): _*),
      path, keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    Catalog.registerLayoutTable(spark, "sql_idx_rli", "partitioned", path)
    val rep = SqlIndex.exec(spark,
      "CREATE INDEX r1 ON sql_idx_rli USING RECORD (k)")
    assert(rep.as[(String, String, String)].collect().toSeq ==
      Seq(("r1", "record", s"${path}_rli_r1")))
    // a key lookup WITHOUT the partition value: the RLI resolves
    // key → partition from one probed bucket, and the primary files
    // the plan reads are confined to the ONE slice it routes to —
    // without the index this query scans every partition
    val q = SqlRead.select(spark, "SELECT v FROM sql_idx_rli WHERE k = 5")
    assert(q.as[Double].collect().toSeq == Seq(5.0))
    val primary = q.inputFiles.toSeq.filterNot(_.contains("_rli_r1"))
    assert(primary.nonEmpty && primary.forall(_.contains("__p_day=d2")),
      s"RLI serve must read only the routed slice, got $primary")
    // every mutation primitive maintains the key→partition mappings
    PartitionedTable.upsertInto(spark, path, prows(("d0", 99L, 1L, "x", 9.9)))
    assert(SqlRead.select(spark, "SELECT v FROM sql_idx_rli WHERE k = 99")
      .as[Double].collect().toSeq == Seq(9.9))
    PartitionedTable.deleteDelta(spark, path,
      prows(("d0", 99L, 2L, "x", 0.0)))
    assert(SqlRead.select(spark, "SELECT v FROM sql_idx_rli WHERE k = 99")
      .count() == 0)
    // right-to-be-forgotten WITHOUT the partition value: purge_key
    // resolves the identity through the RLI (one probed bucket), the
    // delete rewrites one slice
    val purged = SqlCall.exec(spark, "CALL purge_key('sql_idx_rli', 5)")
      .as[(String, String)].collect().toMap
    assert(purged("resolution") == s"rli=${path}_rli_r1")
    assert(SqlRead.select(spark, "SELECT v FROM sql_idx_rli WHERE k = 5")
      .count() == 0)
    // keyed SQL UPDATE without the partition value composes through
    // the RLI (victim identity from one probed bucket, one slice
    // rewritten); co-located rows in the same slice stay byte-equal
    SqlMerge.exec(spark, "UPDATE sql_idx_rli SET v = 100.0 WHERE k = 2")
    assert(SqlRead.select(spark, "SELECT v FROM sql_idx_rli WHERE k = 2")
      .as[Double].collect().toSeq == Seq(100.0))
    assert(SqlRead.select(spark, "SELECT v FROM sql_idx_rli WHERE k = 8")
      .as[Double].collect().toSeq == Seq(8.0))
    // keyed SQL DELETE without the partition value composes through
    // the RLI too (victim identity from one probed bucket, one slice
    // rewritten — no discovery scan)
    SqlMerge.exec(spark, "DELETE FROM sql_idx_rli WHERE k = 7")
    assert(SqlRead.select(spark, "SELECT v FROM sql_idx_rli WHERE k = 7")
      .count() == 0)
    // 12 created, 99 inserted then tombstoned, 5 purged, 7 deleted → 10
    assert(PartitionedTable.read(spark, path).count() == 10)
    // drop unbinds + removes the artifact and its head/maint state
    SqlIndex.exec(spark, "DROP INDEX r1 ON sql_idx_rli")
    assert(PartitionedTable.boundRecordIndex(path).isEmpty)
    assert(!Files.exists(Paths.get(s"${path}_rli_r1")))
  }

  test("several secondary indexes per table: both serve, both maintain, drop one") {
    val path = fresh("sqlidxmulti")
    val df = (1 to 16).map(i => (i.toLong, 1L,
      if (i % 2 == 0) "click" else "view", s"r${i % 4}", i.toDouble))
      .toDF("k", "pc", "etype", "region", "v")
    BucketTable.create(df, path, keys = Seq("k"), precombine = "pc",
      numBuckets = 4)
    Catalog.registerLayoutTable(spark, "sql_idx_multi", "bucket", path)
    SqlIndex.exec(spark,
      "CREATE INDEX m_et ON sql_idx_multi USING SECONDARY (etype)")
    SqlIndex.exec(spark,
      "CREATE INDEX m_rg ON sql_idx_multi USING SECONDARY (region)")
    // an exact-duplicate column set is refused; a different one binds
    intercept[IllegalArgumentException] {
      SqlIndex.exec(spark,
        "CREATE INDEX m_et2 ON sql_idx_multi USING SECONDARY (etype)")
    }
    assert(Catalog.secondaryIndexesOf(spark, "sql_idx_multi").size == 2)
    assert(BucketTable.boundSecondaryIndexes(path).size == 2)
    def served(sql: String): Set[Long] =
      SqlRead.select(spark, sql).as[Long].collect().toSet
    // each index serves its own column's equality
    assert(served("SELECT k FROM sql_idx_multi WHERE etype = 'click'") ==
      (2 to 16 by 2).map(_.toLong).toSet)
    assert(served("SELECT k FROM sql_idx_multi WHERE region = 'r1'") ==
      Set(1L, 5L, 9L, 13L))
    // one write maintains BOTH (k=5 moves etype AND region)
    SqlMerge.exec(spark,
      "UPDATE sql_idx_multi SET etype = 'click', region = 'r0' WHERE k = 5")
    assert(served("SELECT k FROM sql_idx_multi WHERE etype = 'click'") ==
      ((2 to 16 by 2).map(_.toLong).toSet + 5L))
    assert(served("SELECT k FROM sql_idx_multi WHERE region = 'r1'") ==
      Set(1L, 9L, 13L))
    // dropping one leaves the other bound AND serving
    SqlIndex.exec(spark, "DROP INDEX m_et ON sql_idx_multi")
    assert(Catalog.secondaryIndexesOf(spark, "sql_idx_multi")
      .map(_._1) == Seq(Seq("region")))
    assert(BucketTable.boundSecondaryIndexes(path).map(_._2) ==
      Seq(s"${path}_idx_m_rg"))
    assert(!Files.exists(Paths.get(s"${path}_idx_m_et")))
    assert(served("SELECT k FROM sql_idx_multi WHERE region = 'r0'") ==
      Set(4L, 5L, 8L, 12L, 16L))
    // and the survivor still maintains through writes
    BucketTable.upsertInto(spark, path,
      Seq((99L, 1L, "view", "r1", 9.9)).toDF("k", "pc", "etype", "region", "v"))
    assert(served("SELECT k FROM sql_idx_multi WHERE region = 'r1'") ==
      Set(1L, 9L, 13L, 99L))
    SqlIndex.exec(spark, "DROP INDEX m_rg ON sql_idx_multi")
    assert(Catalog.secondaryIndexesOf(spark, "sql_idx_multi").isEmpty)
    assert(BucketTable.boundSecondaryIndexes(path).isEmpty)
  }

  test("crash-torn index maintenance heals on serve — never a silent miss") {
    // a writer that commits the primary and dies before its reconcile
    // leaves the index missing that commit's mappings; the covered-head
    // gate must catch it at serve time and reconcile on read. The torn
    // window is simulated faithfully: unbind → programmatic write
    // (exactly a commit whose maintenance never ran) → re-bind.

    // bucket
    val bp = fresh("tornbk")
    BucketTable.create(rows((1 to 8).map(i =>
      (i.toLong, 1L, if (i % 2 == 0) "click" else "view", i.toDouble)): _*),
      bp, keys = Seq("k"), precombine = "pc", numBuckets = 4)
    Catalog.registerLayoutTable(spark, "sql_idx_tornbk", "bucket", bp)
    SqlIndex.exec(spark,
      "CREATE INDEX tb1 ON sql_idx_tornbk USING SECONDARY (etype)")
    val bIdx = s"${bp}_idx_tb1"
    BucketTable.unbindSecondaryIndex(bp)
    BucketTable.upsertInto(spark, bp,
      rows((99L, 1L, "click", 9.9), (2L, 5L, "view", 2.5)))
    BucketTable.bindSecondaryIndex(bp, Seq("etype"), bIdx)
    assert(SecondaryIndex.coveredHead(bIdx) < BucketTable.latestCommit(bp))
    // the serve heals: the NEW mapping (99) serves, the MOVED one
    // (k=2 click→view) dies — a pre-fix index would miss 99 silently
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_tornbk WHERE etype = 'click'")
      .as[Long].collect().toSet == Set(4L, 6L, 8L, 99L))
    assert(SecondaryIndex.coveredHead(bIdx) == BucketTable.latestCommit(bp))
    // the index-composed DELETE after the heal sees every victim
    SqlMerge.exec(spark, "DELETE FROM sql_idx_tornbk WHERE etype = 'view'")
    assert(BucketTable.read(spark, bp)
      .select("etype").as[String].collect().toSet == Set("click"))

    // mor (covering)
    val mp = fresh("tornmor")
    MorTable.create(rows((1 to 8).map(i =>
      (i.toLong, 1L, if (i % 2 == 0) "click" else "view", i.toDouble)): _*),
      mp, keys = Seq("k"), precombine = "pc")
    Catalog.registerLayoutTable(spark, "sql_idx_tornmor", "mor", mp)
    SqlIndex.exec(spark,
      "CREATE INDEX tm1 ON sql_idx_tornmor USING SECONDARY (etype)")
    val mIdx = s"${mp}_idx_tm1"
    MorTable.unbindSecondaryIndex(mp)
    MorTable.upsertInto(mp,
      rows((99L, 1L, "click", 9.9), (2L, 5L, "view", 2.5)))
    MorTable.bindSecondaryIndex(mp, Seq("etype"), mIdx)
    assert(SecondaryIndex.coveredHead(mIdx) < MorTable.changeHead(mp))
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_tornmor WHERE etype = 'click'")
      .as[Long].collect().toSet == Set(4L, 6L, 8L, 99L))
    // the healed covering payload serves the moved row's NEW value
    assert(SqlRead.select(spark,
      "SELECT v FROM sql_idx_tornmor WHERE etype = 'view' AND k = 2")
      .as[Double].collect().toSeq == Seq(2.5))
    SqlMerge.exec(spark, "DELETE FROM sql_idx_tornmor WHERE etype = 'view'")
    assert(MorTable.readSnapshot(spark, mp)
      .select("etype").as[String].collect().toSet == Set("click"))

    // partitioned (mapping over identities)
    val pp = fresh("tornpart")
    def prows(t: (String, Long, Long, String, Double)*) =
      t.toSeq.toDF("day", "k", "pc", "etype", "v")
    PartitionedTable.create(prows((1 to 8).map(i =>
      (s"d${i % 2}", i.toLong, 1L,
        if (i % 2 == 0) "click" else "view", i.toDouble)): _*),
      pp, keys = Seq("k"), precombine = "pc", partitionCols = Seq("day"))
    Catalog.registerLayoutTable(spark, "sql_idx_tornpt", "partitioned", pp)
    SqlIndex.exec(spark,
      "CREATE INDEX tp1 ON sql_idx_tornpt USING SECONDARY (etype)")
    val pIdx = s"${pp}_idx_tp1"
    PartitionedTable.unbindSecondaryIndex(pp)
    PartitionedTable.upsertInto(spark, pp,
      prows(("d1", 99L, 1L, "click", 9.9), ("d0", 2L, 5L, "view", 2.5)))
    PartitionedTable.bindSecondaryIndex(pp, Seq("etype"), pIdx)
    assert(SecondaryIndex.coveredHead(pIdx) <
      PartitionedTable.latestCommit(pp))
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_tornpt WHERE etype = 'click'")
      .as[Long].collect().toSet == Set(4L, 6L, 8L, 99L))
    SqlMerge.exec(spark, "DELETE FROM sql_idx_tornpt WHERE etype = 'view'")
    assert(PartitionedTable.read(spark, pp)
      .select("etype").as[String].collect().toSet == Set("click"))

    // bloom (mapping over keys)
    val lp = fresh("tornbl")
    BloomTable.create(rows((1 to 8).map(i =>
      (i.toLong, 1L, if (i % 2 == 0) "click" else "view", i.toDouble)): _*),
      lp, keys = Seq("k"), precombine = "pc", numFiles = 2)
    Catalog.registerLayoutTable(spark, "sql_idx_tornbl", "bloom", lp)
    SqlIndex.exec(spark,
      "CREATE INDEX tl1 ON sql_idx_tornbl USING SECONDARY (etype)")
    val lIdx = s"${lp}_idx_tl1"
    BloomTable.unbindSecondaryIndex(lp)
    BloomTable.upsertInto(spark, lp,
      rows((99L, 1L, "click", 9.9), (2L, 5L, "view", 2.5)))
    BloomTable.bindSecondaryIndex(lp, Seq("etype"), lIdx)
    assert(SecondaryIndex.coveredHead(lIdx) < BloomTable.latestCommit(lp))
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_tornbl WHERE etype = 'click'")
      .as[Long].collect().toSet == Set(4L, 6L, 8L, 99L))
    SqlMerge.exec(spark, "DELETE FROM sql_idx_tornbl WHERE etype = 'view'")
    assert(BloomTable.read(spark, lp)
      .select("etype").as[String].collect().toSet == Set("click"))

    // CALL reconcile_index: the explicit repair verb reports heads
    val rep = SqlCall.exec(spark, "CALL reconcile_index('sql_idx_tornbk')")
      .as[(String, String, Long)].collect()
    assert(rep.map(_._2).toSeq == Seq(bIdx))
  }

  test("timeline covering index: head-only serving, commits and purge maintain") {
    val path = fresh("sqlidxtl")
    Timeline.upsertInto(spark, path, rows((1 to 16).map(i =>
      (i.toLong, 1L, if (i % 2 == 0) "click" else "view", i.toDouble)): _*),
      keys = Seq("k"), precombine = "pc")
    Catalog.registerTimelineTable(spark, "sql_idx_tl", path,
      keys = Seq("k"), precombine = "pc")
    SqlIndex.exec(spark,
      "CREATE INDEX tl1 ON sql_idx_tl USING SECONDARY (etype)")
    // served SELECT: correct rows AND the plan reads ONLY index files —
    // without the index a point read scans the whole head snapshot
    val q = SqlRead.select(spark,
      "SELECT k FROM sql_idx_tl WHERE etype = 'click'")
    assert(q.as[Long].collect().toSet == (2 to 16 by 2).map(_.toLong).toSet)
    val files = q.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(_.contains("_idx_tl1")),
      s"covering serve must read only index files, got $files")
    // SQL MERGE moves an indexed value (k=2 click -> view): the commit
    // hook reconciles the index to the new head
    SqlMerge.exec(spark,
      """MERGE INTO sql_idx_tl t
        |USING (SELECT CAST(2 AS BIGINT) AS k, CAST(5 AS BIGINT) AS pc,
        |       'view' AS etype, 2.5 AS v) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_tl WHERE etype = 'click'")
      .as[Long].collect().toSet == (4 to 16 by 2).map(_.toLong).toSet)
    assert(SqlRead.select(spark,
      "SELECT v FROM sql_idx_tl WHERE etype = 'view' AND k = 2")
      .as[Double].collect().toSeq == Seq(2.5))
    // programmatic writes maintain it too (engine-level binding)
    Timeline.upsertInto(spark, path, rows((99L, 1L, "click", 9.9)),
      keys = Seq("k"), precombine = "pc")
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_tl WHERE etype = 'click'")
      .as[Long].collect().toSet ==
      ((4 to 16 by 2).map(_.toLong).toSet + 99L))
    // DELETE commits a new filtered version; the hook reconciles
    SqlMerge.exec(spark, "DELETE FROM sql_idx_tl WHERE etype = 'view'")
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_tl WHERE etype = 'view'").count() == 0)
    // replacecommits (cluster) are content-preserving — still serves
    Timeline.cluster(spark, path, Seq("k"))
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_tl WHERE etype = 'click'").count() == 8L)
    // restore to an older version: the hook reconciles the index to
    // the restored head — 'view' rows serve again
    Timeline.restore(spark, path, 0L)
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_tl WHERE etype = 'view'")
      .as[Long].collect().toSet == (1 to 16 by 2).map(_.toLong).toSet)
    // purge rewrites history IN PLACE (no head move): the forced
    // reconcile tombstones the purged mapping — never served again
    Timeline.purgeKey(spark, path, Seq("k"), Seq(3L))
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_tl WHERE etype = 'view'")
      .as[Long].collect().toSet ==
      ((1 to 16 by 2).map(_.toLong).toSet - 3L))
    // crash-torn maintenance heals on serve: wind the covered head
    // back, the next served read reconciles instead of missing rows
    SecondaryIndex.setCoveredHead(s"${path}_idx_tl1", 0L)
    assert(SqlRead.select(spark,
      "SELECT k FROM sql_idx_tl WHERE etype = 'view'")
      .as[Long].collect().toSet ==
      ((1 to 16 by 2).map(_.toLong).toSet - 3L))
    // drop unbinds the engine-level maintenance hook with the artifact
    SqlIndex.exec(spark, "DROP INDEX tl1 ON sql_idx_tl")
    assert(Timeline.boundSecondaryIndexes(path).isEmpty)
    assert(!Files.exists(Paths.get(s"${path}_idx_tl1")))
  }

  test("timeline covering index: evolved columns and OCC writes reconcile") {
    val path = fresh("sqlidxtle")
    Timeline.upsertInto(spark, path, rows((1 to 8).map(i =>
      (i.toLong, 1L, if (i % 2 == 0) "click" else "view", i.toDouble)): _*),
      keys = Seq("k"), precombine = "pc")
    Catalog.registerTimelineTable(spark, "sql_idx_tle", path,
      keys = Seq("k"), precombine = "pc")
    SqlIndex.exec(spark,
      "CREATE INDEX tle1 ON sql_idx_tle USING SECONDARY (etype)")
    // a column the snapshot GAINS after the index was built: the heal
    // aligns the index side with NULL padding, so every row carrying a
    // real value re-asserts — the served rows carry the new column
    val widened = rows((1 to 8).map(i =>
      (i.toLong, 2L, if (i % 2 == 0) "click" else "view", i.toDouble)): _*)
      .withColumn("tag", org.apache.spark.sql.functions
        .concat(org.apache.spark.sql.functions.lit("t"), col("k")))
    Timeline.upsertInto(spark, path, widened,
      keys = Seq("k"), precombine = "pc")
    val got = Timeline.boundSecondaryIndexes(path).headOption.map(_._2)
      .map(idx => BucketTable.read(spark, idx))
      .getOrElse(fail("index unbound"))
    assert(got.columns.contains("tag"))
    // OCC commits reconcile too (maintenance fires AFTER the lock)
    Timeline.upsertIntoOcc(spark, path,
      rows((100L, 1L, "click", 1.0))
        .withColumn("tag", org.apache.spark.sql.functions.lit("t100")),
      keys = Seq("k"), precombine = "pc")
    val clicks = SqlRead.select(spark,
      "SELECT k, tag FROM sql_idx_tle WHERE etype = 'click'")
    assert(clicks.as[(Long, String)].collect().toMap ==
      Map(2L -> "t2", 4L -> "t4", 6L -> "t6", 8L -> "t8", 100L -> "t100"))
    // and the serve plan still reads only index files
    assert(clicks.inputFiles.nonEmpty &&
      clicks.inputFiles.forall(_.contains("_idx_tle1")))
  }

  test("index DDL on unregistered / wrong-layout tables fails loudly") {
    spark.range(2).toDF("x").createOrReplaceTempView("sql_idx_plainv")
    intercept[Exception] {
      SqlIndex.exec(spark,
        "CREATE INDEX z ON sql_idx_plainv USING SECONDARY (x)")
    }
    val path = bucketBacked("sql_idx_wrongkind")
    intercept[IllegalArgumentException] {
      // record index needs a bloom layout
      SqlIndex.exec(spark,
        "CREATE INDEX z ON sql_idx_wrongkind USING RECORD (k)")
    }
    intercept[IllegalArgumentException] {
      // unknown type
      SqlIndex.exec(spark,
        "CREATE INDEX z ON sql_idx_wrongkind USING BTREE (k)")
    }
  }

  test("multi-index serve prefers the fully-pinned index with the most pinned columns") {
    val path = fresh("sqlidxsel")
    val df = (1 to 16).map(i => (i.toLong, 1L,
      if (i % 2 == 0) "click" else "view", s"r${i % 4}", i.toDouble))
      .toDF("k", "pc", "etype", "region", "v")
    BucketTable.create(df, path, keys = Seq("k"), precombine = "pc",
      numBuckets = 8)
    Catalog.registerLayoutTable(spark, "sql_idx_sel", "bucket", path)
    // the WIDE low-cardinality index binds FIRST — declaration order
    // must not let it shadow the narrower two-column probe
    SqlIndex.exec(spark,
      "CREATE INDEX s_et ON sql_idx_sel USING SECONDARY (etype)")
    SqlIndex.exec(spark,
      "CREATE INDEX s_er ON sql_idx_sel USING SECONDARY (etype, region)")
    // the probe itself is checkpointed out of the served plan's lineage,
    // so WHICH index served is pinned behaviorally: a stale live mapping
    // (click -> poison key) planted in the WIDE index would widen the
    // primary fetch to the poison key's bucket — IF the wide index were
    // chosen. Pick a poison key whose bucket is outside the true hits'.
    val hitBuckets = Seq(4L, 8L, 12L, 16L)
      .map(k => BucketTable.bucketOf(spark, path, Seq(k))).toSet
    val poison = (1 to 15 by 2).map(_.toLong)
      .find(k => !hitBuckets(BucketTable.bucketOf(spark, path, Seq(k))))
      .getOrElse(fail("no odd key hashes outside the hit buckets"))
    BucketTable.upsertInto(spark, s"${path}_idx_s_et",
      Seq(("click", poison, true, 99L)).toDF("etype", "k", "__live", "__commit"))
    def planned(sql: String): Set[Int] = SqlRead.select(spark, sql).inputFiles
      .flatMap("__bucket=(\\d+)".r.findFirstMatchIn(_).map(_.group(1).toInt))
      .toSet
    val sql = "SELECT k FROM sql_idx_sel WHERE etype = 'click' AND region = 'r0'"
    // both fully pinned -> the (etype, region) index must win: the scan
    // stays on the true hits' buckets, the poison bucket untouched
    assert(SqlRead.select(spark, sql).as[Long].collect().toSet ==
      Set(4L, 8L, 12L, 16L))
    val bucketsOfPoison = BucketTable.bucketOf(spark, path, Seq(poison))
    assert(!planned(sql)(bucketsOfPoison),
      s"the wide (etype) index served a conjunction the narrower " +
        "(etype, region) index fully pins")
    // with the narrow index dropped, the wide one is the only eligible
    // route — the poison bucket IS read (and the retained filter still
    // restores exactness)
    SqlIndex.exec(spark, "DROP INDEX s_er ON sql_idx_sel")
    assert(SqlRead.select(spark, sql).as[Long].collect().toSet ==
      Set(4L, 8L, 12L, 16L))
    assert(planned(sql)(bucketsOfPoison))
  }
}
