package graft.etl

import graft.SparkSpec
import graft.plans.GraftExtensions
import org.apache.spark.metrics.source.CodegenMetrics
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
  *
  * A statement run again with the same SQL text reuses every generated
  * class it compiled the first time (zero compiles): the engine sizes
  * Spark's JVM-wide codegen cache to its statement mix.
  */
class JobBudgetSpec extends SparkSpec {

  private final case class Cost(jobs: Int, schemaJobs: Int, showProps: Int,
      maxTaskResult: Long = 0L, compiles: Long = 0L, broadcasts: Int = 0)

  /** Generated classes compiled in this JVM so far (Spark's own count). */
  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private final class Probe(group: String) extends SparkListener {
    val jobs = new AtomicInteger
    val schemaJobs = new AtomicInteger
    val showProps = new AtomicInteger
    val broadcasts = new AtomicInteger
    private val compiled0 = compiled
    def compiles: Long = compiled - compiled0
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
      case s: SparkListenerSQLExecutionStart
          if s.physicalPlanDescription.contains("BroadcastExchange") =>
        broadcasts.incrementAndGet()
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
      probe.maxTaskResult.get, probe.compiles, probe.broadcasts.get)
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

  private val Layouts = Seq("bucket", "bloom", "partitioned", "mor", "timeline")

  /** A table of `layout` as the budget statements run on it: a bloom
    * table carries a bound SECONDARY index on user_id. */
  private def budgetTable(layout: String, name: String = ""): String = {
    val t = create(layout, name)
    if (layout == "bloom")
      SqlIndex.exec(spark, s"CREATE INDEX ${t}_sec ON $t USING SECONDARY (user_id)").collect()
    t
  }

  /** The statements of one layout on table `t`, each with the Spark jobs
    * it must run. */
  private def statements(layout: String, t: String): Seq[(String, Int, () => Unit)] = {
    val (mergeJobs, deleteJobs, keyJobs) = layout match {
      case "bucket" | "partitioned" => (5, 5, 1)
      case "bloom" => (10, 10, 1)
      case "mor" => (2, 2, 2)
      case "timeline" => (3, 3, 1)
    }
    val reads: Seq[(String, Int, () => Unit)] = layout match {
      case "bucket" => Seq(("in-list select", 1, () => assert(
        select(s"SELECT $Cols FROM $t WHERE event_id IN (5, 750, 850)") == 3)))
      case "bloom" => Seq(("secondary select", 3, () => assert(
        select(s"SELECT $Cols FROM $t WHERE user_id = 12") > 0)))
      case "timeline" => Seq(("version as of", 1, () => assert(
        select(s"SELECT $Cols FROM $t VERSION AS OF 0 WHERE user_id = 13") > 0)))
      case _ => Nil
    }
    Seq[(String, Int, () => Unit)](
      ("merge", mergeJobs, () => merge(t)),
      ("delete", deleteJobs, () => SqlMerge.exec(spark, s"DELETE FROM $t WHERE user_id = 13")),
      ("key select", keyJobs, () => assert(
        select(s"SELECT $Cols FROM $t WHERE event_id = 750") == 1))) ++ reads
  }

  /** The statements of one layout, each with the cost it must have. */
  private def check(layout: String,
      statements: Seq[(String, Int, () => Unit)]): Unit = {
    val costs = statements.map { case (what, _, body) =>
      what -> measure(body()).copy(maxTaskResult = 0L, compiles = 0L, broadcasts = 0) }
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
    // a literal no statement has used yet is new generated code
    val fresh = measure(spark.range(3).selectExpr(s"id * ${System.nanoTime()}L AS x").collect())
    assert(fresh.compiles > 0, fresh)
  }

  test("statements run again with the same SQL text compile no class") {
    // a pass creates a table of each layout and runs its statements; the
    // second pass starts from the same states, so every plan is one the
    // first pass compiled, more classes than Spark's default cache holds
    def pass(): Seq[(String, Long)] = Layouts.flatMap { layout =>
      val t = s"budget_again_$layout"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      (s"$layout create" -> measure(budgetTable(layout, t)).compiles) +:
        statements(layout, t).map { case (what, _, body) =>
          s"$layout $what" -> measure(body()).compiles }
    }
    val first = pass()
    val again = pass()
    assert(again.forall(_._2 == 0),
      s"compiles on the second pass: $again (${first.map(_._2).sum} on the first)")
  }

  test("the engine sizes the codegen cache unless the JVM already has a size") {
    val key = GraftExtensions.CodegenCacheKey
    val engine = GraftExtensions.CodegenCacheEntries.toString
    val was = sys.props.get(key)
    try {
      sys.props -= key
      new GraftExtensions
      assert(sys.props.get(key).contains(engine))
      sys.props(key) = "123"
      new GraftExtensions
      assert(sys.props.get(key).contains("123"))
    } finally was match {
      case Some(v) => sys.props(key) = v
      case None => sys.props -= key
    }
  }

  test("bucket: MERGE, DELETE and key reads within budget") {
    check("bucket", statements("bucket", budgetTable("bucket")))
  }

  test("bloom: MERGE, DELETE, key and secondary-index reads within budget") {
    check("bloom", statements("bloom", budgetTable("bloom")))
  }

  test("bloom with CDC: MERGE and its change feed read no footer schemas") {
    val t = create("bloom", "budget_bloom_cdc")
    SqlCall.exec(spark, s"CALL enable_cdc('$t')").collect()
    check("bloom cdc", Seq(
      ("merge", 10, () => merge(t)),
      ("change feed", 1, () => assert(SqlCall.exec(spark,
        s"CALL table_changes('$t', 1, 'cdc')").collect().length == 200))))
  }

  /** A 40,000-row table of `layout` in 4 files or buckets, with a bound
    * SECONDARY index on user_id (and the change feed on if `cdc`);
    * returns its path. */
  private def driverTable(layout: String, name: String, cdc: Boolean = false): String = {
    spark.range(0, 40000).selectExpr("id AS event_id",
      "CAST(id % 997 AS INT) AS user_id", "'view' AS event_type",
      "CAST(id AS DOUBLE) AS value", "1 AS day", "0L AS rev")
      .createOrReplaceTempView("drv_init")
    val path = Files.createTempDirectory("budgetdrv").toString + "/t"
    val files = if (layout == "bucket") "numBuckets" else "numFiles"
    SqlDdl.exec(spark,
      s"""CREATE TABLE $name TBLPROPERTIES (
         |  'graft.table.layout' = '$layout', 'graft.table.path' = '$path',
         |  'graft.table.primaryKey' = 'event_id',
         |  'graft.table.preCombineField' = 'rev', 'graft.table.$files' = '4')
         |AS SELECT $Cols FROM drv_init""".stripMargin)
    SqlIndex.exec(spark,
      s"CREATE INDEX ${name}_sec ON $name USING SECONDARY (user_id)").collect()
    if (cdc) SqlCall.exec(spark, s"CALL enable_cdc('$name')").collect()
    path
  }

  /** `n` keys spread over the 40,000, every row moving its secondary
    * mapping (user_id = (event_id + rev) % 997). */
  private def driverBatch(n: Int, rev: Long) = spark.range(0, n)
    .selectExpr(s"id * ${40000 / n} AS event_id",
      s"CAST((id * ${40000 / n} + $rev) % 997 AS INT) AS user_id",
      "'view' AS event_type", "1.0D AS value", "1 AS day", s"${rev}L AS rev")
    .localCheckpoint()

  /** What running `body` with 400 and with 40,000 keys (both past the
    * literal-IN bound) cost. A broadcast join ships its build side
    * through the driver up to Spark's autoBroadcastJoinThreshold (a
    * shuffle join past it): off here, so what is measured is the
    * engine's own traffic. */
  private def driverCosts(body: Int => Unit): Map[Int, Cost] = {
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    try Seq(400, 40000).map(n => n -> measure(body(n))).toMap
    finally spark.conf.set(threshold, was)
  }

  /** 100 times the keys may not send the driver even twice the bytes
    * (one value per key would: ~10,000 keys per task at 40,000). With
    * the threshold off, a plan that still broadcasts carries an explicit
    * hint, which ships every key of its build side however many. */
  private def assertFlat(costs: Seq[(String, Map[Int, Cost])]): Unit =
    costs.foreach { case (what, m) =>
      val (small, large) = (m(400).maxTaskResult, m(40000).maxTaskResult)
      assert(large < 2 * small,
        s"$what: max task result $small B at 400 keys, $large B at 40,000")
      assert(m.values.forall(_.broadcasts == 0), s"$what broadcasts: $m")
    }

  test("bloom statements send the driver O(files), not a value per batch row") {
    val path = driverTable("bloom", "budget_drv")
    def keys(n: Int) =
      spark.range(0, n).selectExpr(s"id * ${40000 / n} AS event_id").localCheckpoint()
    val merge = driverCosts(n =>
      BloomTable.upsertInto(spark, path, driverBatch(n, if (n == 400) 1L else 2L)))
    // the index followed every moved mapping: user_id = (event_id + 2) % 997
    assert(SqlRead.select(spark, s"SELECT $Cols FROM budget_drv WHERE user_id = 5")
      .collect().map(_.getLong(0)).sorted.toSeq == (0 to 40).map(3L + 997L * _))
    assertFlat(Seq(
      "merge" -> merge,
      "lookupMany" -> driverCosts(n =>
        assert(BloomTable.lookupMany(spark, path, keys(n)).count() == n)),
      "delete" -> driverCosts(n => BloomTable.deleteFrom(spark, path, keys(n)))))
    assert(BloomTable.read(spark, path).count() == 0)
    assert(SqlRead.select(spark, s"SELECT $Cols FROM budget_drv WHERE user_id = 5")
      .collect().isEmpty)
  }

  test("CDC bloom and indexed bucket MERGEs send the driver O(files), not a value per batch row") {
    val bloom = driverTable("bloom", "budget_drv_cdc", cdc = true)
    val bucket = driverTable("bucket", "budget_drv_bucket", cdc = true)
    assertFlat(Seq(
      "bloom cdc merge" -> driverCosts(n =>
        BloomTable.upsertInto(spark, bloom, driverBatch(n, if (n == 400) 1L else 2L))),
      "bucket merge" -> driverCosts(n =>
        BucketTable.upsertInto(spark, bucket, driverBatch(n, if (n == 400) 1L else 2L)))))
    // the index and the change feed followed every moved mapping (the
    // feed holds both MERGEs: 400 + 40,000 updates)
    for (t <- Seq("budget_drv_cdc", "budget_drv_bucket")) {
      assert(SqlRead.select(spark, s"SELECT $Cols FROM $t WHERE user_id = 5")
        .collect().map(_.getLong(0)).sorted.toSeq == (0 to 40).map(3L + 997L * _), t)
      assert(SqlCall.exec(spark, s"CALL table_changes('$t', 1, 'cdc')")
        .where(s"${CdcLog.OpCol} = 'u'").count() == 40400, t)
    }
  }

  test("partitioned: MERGE, DELETE and key reads within budget") {
    check("partitioned", statements("partitioned", budgetTable("partitioned")))
  }

  test("mor: MERGE, DELETE and key reads within budget") {
    check("mor", statements("mor", budgetTable("mor")))
  }

  test("timeline: MERGE, DELETE, key and VERSION AS OF reads within budget") {
    check("timeline", statements("timeline", budgetTable("timeline")))
  }
}
