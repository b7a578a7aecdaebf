package graft.etl

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
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

  private final case class Cost(jobs: Int, schemaJobs: Int, showProps: Int,
      maxTaskResult: Long = 0L)

  private final class Probe(group: String) extends SparkListener {
    val jobs = new AtomicInteger
    val schemaJobs = new AtomicInteger
    val showProps = new AtomicInteger
    private val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val maxTaskResult = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      if (p.exists(_.getProperty("spark.jobGroup.id") == group)) {
        e.stageIds.foreach(stages.add)
        jobs.incrementAndGet()
        if (p.forall(_.getProperty("spark.sql.execution.id") == null) &&
            e.stageInfos.size == 1 &&
            e.stageInfos.head.name.startsWith("parquet at "))
          schemaJobs.incrementAndGet()
      }
    }
    /** Bytes a task sent the driver: its result, accumulator updates
      * (observed metrics among them) included. */
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stages.contains(e.stageId) && e.taskMetrics != null)
        maxTaskResult.accumulateAndGet(e.taskMetrics.resultSize, math.max)
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
    Cost(probe.jobs.get, probe.schemaJobs.get, probe.showProps.get,
      probe.maxTaskResult.get)
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
    val costs = statements.map { case (what, _, body) =>
      what -> measure(body()).copy(maxTaskResult = 0L) }
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
      ("key select", 1, () => assert(select(s"SELECT $Cols FROM $t WHERE event_id = 750") == 1)),
      ("in-list select", 1, () => assert(
        select(s"SELECT $Cols FROM $t WHERE event_id IN (5, 750, 850)") == 3))))
  }

  test("bloom: MERGE, DELETE, key and secondary-index reads within budget") {
    val t = create("bloom")
    SqlIndex.exec(spark,
      s"CREATE INDEX budget_sec ON $t USING SECONDARY (user_id)").collect()
    check("bloom", Seq(
      ("merge", 10, () => merge(t)),
      ("delete", 10, () => SqlMerge.exec(spark, s"DELETE FROM $t WHERE user_id = 13")),
      ("key select", 1, () => assert(select(s"SELECT $Cols FROM $t WHERE event_id = 750") == 1)),
      ("secondary select", 3, () => assert(
        select(s"SELECT $Cols FROM $t WHERE user_id = 12") > 0))))
  }

  test("bloom with CDC: MERGE and its change feed read no footer schemas") {
    val t = create("bloom", "budget_bloom_cdc")
    SqlCall.exec(spark, s"CALL enable_cdc('$t')").collect()
    check("bloom cdc", Seq(
      ("merge", 10, () => merge(t)),
      ("change feed", 1, () => assert(SqlCall.exec(spark,
        s"CALL table_changes('$t', 1, 'cdc')").collect().length == 200))))
  }

  test("bloom statements send the driver O(files), not a value per batch row") {
    // 40,000 rows in 4 files with a bound SECONDARY index; each statement
    // runs with 400 and with 40,000 keys (both past the literal-IN bound)
    spark.range(0, 40000).selectExpr("id AS event_id",
      "CAST(id % 997 AS INT) AS user_id", "'view' AS event_type",
      "CAST(id AS DOUBLE) AS value", "1 AS day", "0L AS rev")
      .createOrReplaceTempView("drv_init")
    val path = Files.createTempDirectory("budgetdrv").toString + "/t"
    SqlDdl.exec(spark,
      s"""CREATE TABLE budget_drv TBLPROPERTIES (
         |  'graft.table.layout' = 'bloom', 'graft.table.path' = '$path',
         |  'graft.table.primaryKey' = 'event_id',
         |  'graft.table.preCombineField' = 'rev', 'graft.table.numFiles' = '4')
         |AS SELECT $Cols FROM drv_init""".stripMargin)
    SqlIndex.exec(spark,
      "CREATE INDEX budget_drv_sec ON budget_drv USING SECONDARY (user_id)").collect()
    // every batch row moves its secondary mapping
    def batch(n: Int, rev: Long) = spark.range(0, n)
      .selectExpr(s"id * ${40000 / n} AS event_id",
        s"CAST((id * ${40000 / n} + $rev) % 997 AS INT) AS user_id",
        "'view' AS event_type", "1.0D AS value", "1 AS day", s"${rev}L AS rev")
    def keys(n: Int) =
      spark.range(0, n).selectExpr(s"id * ${40000 / n} AS event_id").localCheckpoint()
    def maxResult(body: Int => Unit): Map[Int, Long] =
      Seq(400, 40000).map(n => n -> measure(body(n)).maxTaskResult).toMap
    // a broadcast join ships its build side through the driver up to
    // Spark's autoBroadcastJoinThreshold (a shuffle join past it): off
    // here, so what is measured is the engine's own traffic
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    try {
      val merge = maxResult(n => BloomTable.upsertInto(spark, path,
        batch(n, if (n == 400) 1L else 2L).localCheckpoint()))
      // the index followed every moved mapping: user_id = (event_id + 2) % 997
      assert(SqlRead.select(spark, s"SELECT $Cols FROM budget_drv WHERE user_id = 5")
        .collect().map(_.getLong(0)).sorted.toSeq == (0 to 40).map(3L + 997L * _))
      val costs = Seq(
        "merge" -> merge,
        "lookupMany" -> maxResult(n =>
          assert(BloomTable.lookupMany(spark, path, keys(n)).count() == n)),
        "delete" -> maxResult(n => BloomTable.deleteFrom(spark, path, keys(n))))
      // 100 times the keys may not send the driver even twice the bytes
      // (one value per key would: ~10,000 keys per task at 40,000)
      costs.foreach { case (what, m) =>
        assert(m(40000) < 2 * m(400),
          s"$what: max task result ${m(400)} B at 400 keys, ${m(40000)} B at 40,000")
      }
    } finally spark.conf.set(threshold, was)
    assert(BloomTable.read(spark, path).count() == 0)
    assert(SqlRead.select(spark, s"SELECT $Cols FROM budget_drv WHERE user_id = 5")
      .collect().isEmpty)
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
