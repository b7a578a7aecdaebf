package graft.etl

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The statement metadata budget: every SQL statement on every layout
  * serves its table properties from the session catalog (zero
  * `SHOW TBLPROPERTIES` executions) and its parquet schemas from the
  * records its units carry (zero footer-schema jobs), and runs exactly
  * the Spark jobs pinned below. A change that adds a job or a metadata
  * round trip to a statement fails here, not in a noisy benchmark.
  *
  * A footer-schema job is a job of one `parquet at …` stage run outside
  * any SQL execution (a parquet write or scan carries an execution id).
  */
class JobBudgetSpec extends SparkSpec {

  private final case class Cost(jobs: Int, schemaJobs: Int, showProps: Int)

  private final class Probe(group: String) extends SparkListener {
    val jobs = new AtomicInteger
    val schemaJobs = new AtomicInteger
    val showProps = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      if (p.exists(_.getProperty("spark.jobGroup.id") == group)) {
        jobs.incrementAndGet()
        if (p.forall(_.getProperty("spark.sql.execution.id") == null) &&
            e.stageInfos.size == 1 &&
            e.stageInfos.head.name.startsWith("parquet at "))
          schemaJobs.incrementAndGet()
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart
          if s.physicalPlanDescription.contains("ShowTableProperties") =>
        showProps.incrementAndGet()
      case _ =>
    }
  }

  private def drain(): Unit =
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])

  /** Run `body` in a job group of its own and count what it cost. */
  private def measure(body: => Unit): Cost = {
    val group = s"budget-${java.util.UUID.randomUUID()}"
    drain()
    val probe = new Probe(group)
    spark.sparkContext.addSparkListener(probe)
    try {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      drain()
    } finally spark.sparkContext.removeSparkListener(probe)
    Cost(probe.jobs.get, probe.schemaJobs.get, probe.showProps.get)
  }

  private val Cols = "event_id, user_id, event_type, value, day, rev"

  /** sf0.001 events as a keyed table: event_id < 800 to create from,
    * event_id in [700, 900) as the MERGE batch (100 updates, 100
    * inserts, every value changed, a higher rev).
    */
  private lazy val views: Unit = {
    val events = spark.read.parquet(s"$sf0001/events.parquet")
      .selectExpr("event_id", "user_id", "event_type", "value",
        "CAST(dayofmonth(ts) AS INT) AS day", "0L AS rev")
    events.filter("event_id < 800").createOrReplaceTempView("budget_init")
    events.filter("event_id >= 700 AND event_id < 900")
      .selectExpr("event_id", "user_id", "event_type", "value + 1 AS value",
        "day", "1L AS rev")
      .createOrReplaceTempView("budget_batch")
  }

  private def create(layout: String, name0: String = ""): String = {
    views
    val name = if (name0.isEmpty) s"budget_$layout" else name0
    val path = Files.createTempDirectory(s"budget$layout").toString + "/t"
    val extra = layout match {
      case "bucket" => ", 'graft.table.numBuckets' = '4'"
      case "bloom" => ", 'graft.table.numFiles' = '4'"
      case _ => ""
    }
    val part = if (layout == "partitioned") "PARTITIONED BY (day) " else ""
    SqlDdl.exec(spark,
      s"""CREATE TABLE $name ${part}TBLPROPERTIES (
         |  'graft.table.layout' = '$layout',
         |  'graft.table.path' = '$path',
         |  'graft.table.primaryKey' = 'event_id',
         |  'graft.table.preCombineField' = 'rev'$extra)
         |AS SELECT $Cols FROM budget_init""".stripMargin)
    name
  }

  private def merge(t: String): Unit = SqlMerge.exec(spark,
    s"""MERGE INTO $t t USING budget_batch s ON t.event_id = s.event_id
       |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)

  private def select(sql: String): Long = SqlRead.select(spark, sql).collect().length

  /** The statements of one layout, each with the cost it must have. */
  private def check(layout: String,
      statements: Seq[(String, Int, () => Unit)]): Unit = {
    val costs = statements.map { case (what, _, body) => what -> measure(body()) }
    val want = statements.map { case (what, jobs, _) => what -> Cost(jobs, 0, 0) }
    assert(costs == want, s"$layout statement costs")
  }

  test("the detectors see a schema-less parquet read and SHOW TBLPROPERTIES") {
    val t = create("timeline", "budget_detectors")
    val c = measure {
      spark.read.parquet(s"$sf0001/events.parquet")
      spark.sql(s"SHOW TBLPROPERTIES $t").collect()
    }
    assert(c.schemaJobs == 1 && c.showProps >= 1, c)
  }

  test("bucket: MERGE, DELETE and key reads within budget") {
    val t = create("bucket")
    check("bucket", Seq(
      ("merge", 5, () => merge(t)),
      ("delete", 5, () => SqlMerge.exec(spark, s"DELETE FROM $t WHERE user_id = 13")),
      ("key select", 2, () => assert(select(s"SELECT $Cols FROM $t WHERE event_id = 750") == 1)),
      ("in-list select", 1, () => assert(
        select(s"SELECT $Cols FROM $t WHERE event_id IN (5, 750, 850)") == 3))))
  }

  test("bloom: MERGE, DELETE, key and secondary-index reads within budget") {
    val t = create("bloom")
    SqlIndex.exec(spark,
      s"CREATE INDEX budget_sec ON $t USING SECONDARY (user_id)").collect()
    check("bloom", Seq(
      ("merge", 18, () => merge(t)),
      ("delete", 22, () => SqlMerge.exec(spark, s"DELETE FROM $t WHERE user_id = 13")),
      ("key select", 4, () => assert(select(s"SELECT $Cols FROM $t WHERE event_id = 750") == 1)),
      ("secondary select", 10, () => assert(
        select(s"SELECT $Cols FROM $t WHERE user_id = 12") > 0))))
  }

  test("partitioned: MERGE, DELETE and key reads within budget") {
    val t = create("partitioned")
    check("partitioned", Seq(
      ("merge", 5, () => merge(t)),
      ("delete", 5, () => SqlMerge.exec(spark, s"DELETE FROM $t WHERE user_id = 13")),
      ("key select", 1, () => assert(select(s"SELECT $Cols FROM $t WHERE event_id = 750") == 1))))
  }

  test("mor: MERGE, DELETE and key reads within budget") {
    val t = create("mor")
    check("mor", Seq(
      ("merge", 2, () => merge(t)),
      ("delete", 2, () => SqlMerge.exec(spark, s"DELETE FROM $t WHERE user_id = 13")),
      ("key select", 2, () => assert(select(s"SELECT $Cols FROM $t WHERE event_id = 750") == 1))))
  }

  test("timeline: MERGE, DELETE, key and VERSION AS OF reads within budget") {
    val t = create("timeline")
    check("timeline", Seq(
      ("merge", 3, () => merge(t)),
      ("delete", 3, () => SqlMerge.exec(spark, s"DELETE FROM $t WHERE user_id = 13")),
      ("key select", 1, () => assert(select(s"SELECT $Cols FROM $t WHERE event_id = 750") == 1)),
      ("version as of", 1, () => assert(
        select(s"SELECT $Cols FROM $t VERSION AS OF 0 WHERE user_id = 13") > 0))))
  }
}
