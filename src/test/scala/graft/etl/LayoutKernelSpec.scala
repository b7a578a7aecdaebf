package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import java.nio.file.Files

/** The services every layout takes from [[TableLayout]] — savepoints,
  * retention that respects them, index bindings, archival and time
  * travel — checked through `CALL`/`DROP INDEX`/`AS OF`, one table
  * row per layout.
  */
class LayoutKernelSpec extends SparkSpec {
  import spark.implicits._

  /** How a layout creates, registers and upserts a (k, pc, v, e, part)
    * table; the rest of every check goes through the SQL surface.
    */
  private final case class LayoutCase(kind: String,
      create: (DataFrame, String) => Unit, upsert: (String, DataFrame) => Unit)

  private val keys = Seq("k")
  private val layouts = Seq(
    LayoutCase("bucket",
      (df, p) => BucketTable.create(df, p, keys, "pc", numBuckets = 4),
      (p, df) => { BucketTable.upsertInto(spark, p, df); () }),
    LayoutCase("bloom",
      (df, p) => BloomTable.create(df, p, keys, "pc", numFiles = 2),
      (p, df) => { BloomTable.upsertInto(spark, p, df); () }),
    LayoutCase("partitioned",
      (df, p) => PartitionedTable.create(df, p, keys, "pc",
        partitionCols = Seq("part")),
      (p, df) => { PartitionedTable.upsertInto(spark, p, df); () }),
    LayoutCase("mor",
      (df, p) => MorTable.create(df, p, keys, "pc"),
      (p, df) => { MorTable.upsertInto(p, df); () }),
    LayoutCase("timeline",
      (df, p) => { Timeline.upsertInto(spark, p, df, keys, "pc"); () },
      (p, df) => { Timeline.upsertInto(spark, p, df, keys, "pc"); () }))

  private val first = Seq((1L, 1L, 10.0, "x", "a"), (2L, 1L, 20.0, "y", "b"))
    .toDF("k", "pc", "v", "e", "part")
  private val second = Seq((1L, 2L, 11.0, "x", "a"), (3L, 1L, 30.0, "z", "a"))
    .toDF("k", "pc", "v", "e", "part")

  /** A fresh `first`-state table of `row`'s layout, registered as `t`. */
  private def mk(row: LayoutCase, t: String): String = {
    val p = Files.createTempDirectory("kernel").toString + "/t"
    row.create(first, p)
    if (row.kind == "timeline")
      Catalog.registerTimelineTable(spark, t, p, keys, "pc")
    else Catalog.registerLayoutTable(spark, t, row.kind, p)
    p
  }

  private def call(sql: String): DataFrame = SqlCall.exec(spark, sql)

  private def values(df: DataFrame): Set[Double] =
    df.select("v").as[Double].collect().toSet

  private def fails(sql: String): String =
    intercept[IllegalArgumentException](call(sql).collect()).getMessage

  for (row <- layouts) {
    test(s"${row.kind}: savepoint names, unknown pins and a fresh table's list") {
      val t = s"kernel_sp_${row.kind}"
      mk(row, t)
      assert(call(s"CALL show_savepoints('$t')").count() == 0)
      assert(fails(s"CALL create_savepoint('$t', 'bad name')")
        .contains("invalid savepoint name"))
      call(s"CALL create_savepoint('$t', 'p1')")
      assert(fails(s"CALL create_savepoint('$t', 'p1')").contains("already exists"))
      assert(fails(s"CALL read_savepoint('$t', 'nope')").contains("no savepoint nope"))
      assert(fails(s"CALL rollback_to_savepoint('$t', 'nope')")
        .contains("no savepoint nope"))
      assert(call(s"CALL show_savepoints('$t')").as[String].collect().toSeq ==
        Seq("p1"))
    }

    test(s"${row.kind}: a pinned state survives retention until its pin is dropped") {
      val t = s"kernel_clean_${row.kind}"
      val p = mk(row, t)
      call(s"CALL create_savepoint('$t', 'pin')")
      row.upsert(p, second)
      // clustering rewrites the live state on every layout, so the
      // pinned state is referenced by the savepoint alone
      call(s"CALL run_clustering('$t', 'v')")
      val clean =
        if (row.kind == "timeline") s"CALL clean_commits('$t', 1)"
        else s"CALL clean('$t')"
      call(clean).collect()
      assert(values(call(s"CALL read_savepoint('$t', 'pin')")) == Set(10.0, 20.0))
      assert(values(Catalog.readTable(spark, t)) == Set(11.0, 20.0, 30.0))
      call(s"CALL delete_savepoint('$t', 'pin')")
      assert(call(clean).count() > 0, "the unpinned state is reclaimed")
      assert(values(Catalog.readTable(spark, t)) == Set(11.0, 20.0, 30.0))
    }

    test(s"${row.kind}: reconcile_index serves and DROP INDEX unbinds the binding") {
      val t = s"kernel_idx_${row.kind}"
      val p = mk(row, t)
      val layout = Layout.named(row.kind).get
      SqlIndex.exec(spark, s"CREATE INDEX s1 ON $t USING SECONDARY (e)")
      assert(layout.boundSecondaryIndexes(p).map(_._1) == Seq(Seq("e")))
      assert(call(s"CALL reconcile_index('$t')").select("index_type")
        .as[String].collect().toSeq == Seq("secondary"))
      SqlIndex.exec(spark, s"DROP INDEX s1 ON $t")
      assert(layout.boundSecondaryIndexes(p).isEmpty)
    }
  }

  for (row <- layouts.filter(r => Set("bucket", "bloom", "partitioned")(r.kind)))
    test(s"${row.kind}: TIMESTAMP AS OF resolves a pre-archive instant") {
      val t = s"kernel_arch_${row.kind}"
      val p = mk(row, t)
      val afterFirst = System.currentTimeMillis()
      Thread.sleep(5)
      row.upsert(p, second)
      row.upsert(p, Seq((2L, 2L, 21.0, "y", "b")).toDF("k", "pc", "v", "e", "part"))
      assert(call(s"CALL archive_commits('$t', 1)").count() == 2)
      assert(values(SqlRead.select(spark,
        s"SELECT * FROM $t TIMESTAMP AS OF $afterFirst")) == Set(10.0, 20.0))
      assert(call(s"CALL show_commits('$t')").count() == 3)
    }
}
