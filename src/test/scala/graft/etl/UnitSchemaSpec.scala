package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.Row
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Recorded-schema fidelity: every immutable unit a layout writes
  * carries the schema Spark's footer inference would return for it —
  * through create, an upsert that adds a column, type widening, a
  * rename, tombstone logs, timeline versions, bloom index versions,
  * `HudiLike` snapshots and the audit log — and a unit written without
  * a record (a table from before recording) reads the same rows by
  * inference.
  */
class UnitSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def walk(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def dataFiles(unit: Path): Seq[String] = walk(unit).filter { f =>
    val n = f.getFileName.toString
    Files.isRegularFile(f) && n.endsWith(".parquet") &&
      !n.startsWith("_") && !n.startsWith(".")
  }.map(_.toString).sorted

  /** Every recorded unit under `root`: its record equals what inference
    * over its files says. Returns the unit kinds seen (`gen`, `c`, ...).
    */
  private def checkUnits(root: Path): Set[String] = {
    val units = walk(root).filter(_.getFileName.toString == "_unit_schema")
      .map(_.getParent)
    units.foreach { u =>
      val files = dataFiles(u)
      assert(files.nonEmpty, s"$u holds no data files")
      assert(UnitSchema.recorded(u.toString).contains(
        spark.read.parquet(files: _*).schema), s"record of $u")
    }
    units.map(_.getFileName.toString.takeWhile(_ != '=')).toSet
  }

  private def dropRecords(root: Path): Unit =
    walk(root).filter(_.getFileName.toString == "_unit_schema")
      .foreach(Files.delete)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def view(name: String, cols: String, rows: Seq[String]): Unit =
    spark.sql(s"SELECT * FROM VALUES ${rows.mkString(", ")} AS t($cols)")
      .createOrReplaceTempView(name)

  /** Create, add a column, widen, rename and delete through the SQL
    * front door; every unit stays faithful after every statement.
    */
  private def evolve(layout: String, expected: Set[String],
      index: Option[String] = None): Unit = {
    val root = Files.createTempDirectory(s"unitschema$layout")
    val t = s"us_$layout"
    view(s"${t}_src", "k, pc, v, part",
      (1 to 40).map(i => s"(${i}L, 1L, $i, 'p${i % 3}')"))
    val part = if (layout == "partitioned") "PARTITIONED BY (part) " else ""
    SqlDdl.exec(spark,
      s"""CREATE TABLE $t ${part}TBLPROPERTIES (
         |  'graft.table.layout' = '$layout',
         |  'graft.table.path' = '$root/t',
         |  'graft.table.primaryKey' = 'k',
         |  'graft.table.preCombineField' = 'pc')
         |AS SELECT * FROM ${t}_src""".stripMargin)
    index.foreach(ix => SqlIndex.exec(spark, s"CREATE INDEX ${t}_ix ON $t $ix").collect())
    checkUnits(root)
    def merge(src: String): Unit = {
      SqlMerge.exec(spark,
        s"""MERGE INTO $t t USING $src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      checkUnits(root)
      ()
    }
    SqlDdl.exec(spark, s"ALTER TABLE $t ADD COLUMNS (extra STRING)")
    view(s"${t}_add", "k, pc, v, part, extra",
      Seq("(2L, 2L, 20, 'p2', 'x')", "(41L, 2L, 41, 'p2', 'y')"))
    merge(s"${t}_add")
    SqlDdl.exec(spark, s"ALTER TABLE $t ALTER COLUMN v TYPE BIGINT")
    view(s"${t}_wide", "k, pc, v, part, extra",
      Seq("(3L, 3L, 3000000000L, 'p0', 'w')", "(42L, 3L, 42L, 'p0', 'z')"))
    merge(s"${t}_wide")
    SqlDdl.exec(spark, s"ALTER TABLE $t RENAME COLUMN extra TO note")
    view(s"${t}_ren", "k, pc, v, part, note",
      Seq("(4L, 4L, 4L, 'p1', 'n')", "(43L, 4L, 43L, 'p1', 'm')"))
    merge(s"${t}_ren")
    SqlMerge.exec(spark, s"DELETE FROM $t WHERE k = 1")
    val kinds = checkUnits(root)
    assert(expected.subsetOf(kinds), s"$layout unit kinds $kinds")
    val got = Catalog.readTable(spark, t).select("k", "v", "note")
      .as[(Long, Long, Option[String])].collect().map(r => r._1 -> r).toMap
    assert(got.size == 42 && !got.contains(1L))
    assert(got(3L) == ((3L, 3000000000L, Some("w"))))
    assert(got(43L) == ((43L, 43L, Some("m"))))
    assert(got(2L)._3.contains("x") && got(10L) == ((10L, 10L, None)))
  }

  test("bucket generations and column-stats versions are faithful") {
    evolve("bucket", Set("gen", "v"), Some("USING COLUMN_STATS (pc)"))
  }

  test("bloom commit dirs, index versions and the secondary index are faithful") {
    evolve("bloom", Set("c", "v", "gen"), Some("USING SECONDARY (part)"))
  }

  test("partitioned generations are faithful") {
    evolve("partitioned", Set("gen"))
  }

  test("MOR bases and delta logs, tombstones included, are faithful") {
    evolve("mor", Set("base", "log"))
  }

  test("timeline versions are faithful") {
    evolve("timeline", Set("v"))
  }

  test("HudiLike snapshots and the audit log are faithful") {
    val dir = Files.createTempDirectory("unitschemahudi")
    val p = s"$dir/t"
    HudiLike.upsertInto(spark, p, Seq((1L, 1L, 1.0)).toDF("k", "pc", "v"),
      Seq("k"), "pc")
    assert(UnitSchema.recorded(p).contains(spark.read.parquet(p).schema))
    HudiLike.upsertInto(spark, p,
      Seq((2L, 1L, 2.0, "a")).toDF("k", "pc", "v", "extra"), Seq("k"), "pc")
    assert(UnitSchema.recorded(p).contains(spark.read.parquet(p).schema))
    assert(UnitSchema.read(spark, p).columns.contains("extra"))
    val log = s"$dir/log"
    (1 to 2).foreach { i =>
      Watermark.writeEntry(spark, log, LogEntry("p", None, i.toLong, "SUCCESS",
        i, 0.5, None, i.toLong))
      assert(UnitSchema.recorded(log).contains(spark.read.parquet(log).schema))
    }
    assert(Watermark.readLog(spark, log).count() == 2)
  }

  test("units without a record read the same rows by inference") {
    val base = (1 to 30).map(i => (i.toLong, 1L, i.toDouble, s"p${i % 2}"))
      .toDF("k", "pc", "v", "part")
    val batch = Seq((5L, 2L, 50.0, "p1", "e"), (31L, 2L, 31.0, "p1", "f"))
      .toDF("k", "pc", "v", "part", "extra")
    def layout(name: String)(build: String => Unit)(
        read: String => org.apache.spark.sql.DataFrame): Unit = {
      val root = Files.createTempDirectory(s"unitschemalegacy$name")
      val p = s"$root/t"
      build(p)
      val before = read(p)
      val (schema, content) = (before.schema, rows(before))
      dropRecords(root)
      assert(walk(root).forall(_.getFileName.toString != "_unit_schema"))
      val after = read(p)
      assert(after.schema == schema, name)
      assert(rows(after) == content, name)
    }
    layout("bucket") { p =>
      BucketTable.create(base, p, Seq("k"), "pc", numBuckets = 4)
      BucketTable.upsertInto(spark, p, batch)
    }(BucketTable.read(spark, _))
    layout("bloom") { p =>
      BloomTable.create(base, p, Seq("k"), "pc", numFiles = 2)
      BloomTable.upsertInto(spark, p, batch)
    }(BloomTable.read(spark, _))
    layout("partitioned") { p =>
      PartitionedTable.create(base, p, Seq("k"), "pc", partitionCols = Seq("part"))
      PartitionedTable.upsertInto(spark, p, batch)
    }(PartitionedTable.read(spark, _))
    layout("mor") { p =>
      MorTable.create(base, p, Seq("k"), "pc")
      MorTable.upsertInto(p, batch)
      MorTable.deleteFrom(p, Seq((7L, 9L)).toDF("k", "pc"))
    }(MorTable.readSnapshot(spark, _))
    layout("timeline") { p =>
      Timeline.upsertInto(spark, p, base, Seq("k"), "pc")
      Timeline.upsertInto(spark, p, batch, Seq("k"), "pc")
    }(Timeline.read(spark, _))
    layout("hudilike") { p =>
      HudiLike.upsertInto(spark, p, base, Seq("k"), "pc")
      HudiLike.upsertInto(spark, p, batch, Seq("k"), "pc")
    }(UnitSchema.read(spark, _))
  }
}
