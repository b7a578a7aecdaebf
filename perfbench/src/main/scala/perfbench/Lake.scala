package perfbench

import graft.etl.{SqlCall, SqlDdl, SqlIndex, SqlMerge, SqlRead}
import org.apache.spark.sql.{Row, SparkSession}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A row of the keyed event tables: key `event_id`, precombine `rev`. */
final case class Ev(eventId: Long, userId: Long, eventType: String,
    value: Double, day: Int, rev: Long)

/** One line of the generator's manifest.tsv. */
final case class DayInfo(day: Int, rawRows: Long, batchRows: Long, eraseUser: Long)

/** The plain-Scala model of a keyed table: latest `rev` wins per key (a
  * batch never repeats a key, and its `rev` is above every stored one).
  * Every read and every final table state is compared with it.
  */
final class Model(var rows: Map[Long, Ev] = Map.empty) {
  def upsert(batch: Seq[Ev]): Unit =
    rows = batch.foldLeft(rows) { (m, e) =>
      m.get(e.eventId) match {
        case Some(old) if old.rev > e.rev => m
        case _ => m.updated(e.eventId, e)
      }
    }
}

/** The five keyed layouts of one set-up, created and queried through the
  * SQL front door only. Each table lives in its own directory with its
  * index artifacts beside it, so a walk of that directory sees
  * everything a statement on the table wrote.
  */
final class Lake(spark: SparkSession, val root: String, val tag: String) {
  import Lake._

  def name(layout: String): String = s"${layout}_$tag"
  def dir(layout: String): String = s"$root/$layout"
  def path(layout: String): String = s"${dir(layout)}/t"

  /** CTAS layout `l` from the rows in `view`. */
  def create(l: String, view: String, buckets: Int): Unit = {
    val extra = l match {
      case "bucket" => s", 'graft.table.numBuckets' = '$buckets'"
      case "bloom" => s", 'graft.table.numFiles' = '$buckets'"
      case _ => ""
    }
    val part = if (l == "partitioned") "PARTITIONED BY (day) " else ""
    SqlDdl.exec(spark,
      s"""CREATE TABLE ${name(l)} ${part}TBLPROPERTIES (
         |  'graft.table.layout' = '$l',
         |  'graft.table.path' = '${path(l)}',
         |  'graft.table.primaryKey' = 'event_id',
         |  'graft.table.preCombineField' = 'rev'$extra)
         |AS SELECT $Cols FROM $view""".stripMargin)
  }

  def index(sql: String): Unit = SqlIndex.exec(spark, sql).collect()

  def merge(l: String, view: String): Unit = SqlMerge.exec(spark,
    s"""MERGE INTO ${name(l)} t USING $view s ON t.event_id = s.event_id
       |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
  def eraseUser(l: String, u: Long): Unit =
    SqlMerge.exec(spark, s"DELETE FROM ${name(l)} WHERE user_id = $u")

  def select(l: String, where: String, version: Option[Int] = None): Seq[Ev] = {
    val travel = version.fold("")(v => s" VERSION AS OF $v")
    toEvs(SqlRead.select(spark,
      s"SELECT $Cols FROM ${name(l)}$travel WHERE $where").collect())
  }
  def all(l: String): Seq[Ev] =
    toEvs(SqlRead.select(spark, s"SELECT $Cols FROM ${name(l)}").collect())

  def call(sql: String): Array[Row] = SqlCall.exec(spark, sql).collect()

  /** Pending MOR delta commits, as the engine's fsview reports them. */
  def morDepth(): Long =
    call(s"CALL show_fsview('${name("mor")}')")
      .find(_.getString(0) == "delta_commits_pending").map(_.getLong(1)).getOrElse(0L)

  def storedBytes(): Long = Layouts.map(l => Tracer.bytesUnder(dir(l))).sum
}

object Lake {
  val Layouts = Seq("bucket", "bloom", "partitioned", "mor", "timeline")
  val Cols = "event_id, user_id, event_type, value, day, rev"

  def toEvs(rows: Array[Row]): Seq[Ev] = rows.toSeq.map(r => Ev(r.getLong(0),
    r.getLong(1), r.getString(2), r.getDouble(3), r.getInt(4), r.getLong(5)))
    .sortBy(_.eventId)

  /** Every day's batch from the generator's text copy (a batch's rows
    * carry its day as `rev`), read without the engine.
    */
  def readBatches(in: String, days: Int): IndexedSeq[Seq[Ev]] = {
    val byDay = Files.readAllLines(Paths.get(s"$in/batch.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val f = l.split('\t')
        Ev(f(0).toLong, f(1).toLong, f(2), f(3).toDouble, f(4).toInt, f(5).toLong)
      }.groupBy(_.rev)
    (0 until days).map(d => byDay.getOrElse(d.toLong, Nil).sortBy(_.eventId))
  }

  def manifest(in: String): IndexedSeq[DayInfo] =
    Files.readAllLines(Paths.get(s"$in/manifest.tsv")).asScala.toIndexedSeq
      .filter(_.nonEmpty).map { l =>
        val f = l.split('\t')
        DayInfo(f(0).toInt, f(1).toLong, f(2).toLong, f(3).toLong)
      }

  def batchPath(in: String, day: Int): String = f"$in/batch/day=$day%02d.parquet"
  def rawPath(in: String, day: Int): String = f"$in/events/day=$day%02d.parquet"

  /** Register the union of the given days' batches as `view`. */
  def batchView(spark: SparkSession, in: String, days: Seq[Int], view: String): Unit =
    spark.read.parquet(days.map(batchPath(in, _)): _*).createOrReplaceTempView(view)

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(Files.delete)
      finally s.close()
    }
  }
}
