package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The round-10 verdict's scale-killer, pinned by CI: index
  * maintenance (BloomTable upsert/delete/key lookups, RecordIndex
  * build/refresh/lookup) must never inflate a plan with an In-list of
  * more than `BloomTable.InListMax` (64) literals — at 10⁵–10⁶ live
  * files that blows up driver-side analysis. Under the bound, a
  * literal `isin` is the SANCTIONED fast path (codegen'd filter, no
  * broadcast exchange — measured cheaper on trickle commits); past it,
  * `BloomTable.filesIn` switches to a broadcast semi/anti-join against
  * the path list as a local relation. This spec runs the full
  * lifecycle — including a 100-file table, past the bound — under a
  * `QueryExecutionListener` and fails if ANY executed plan carries an
  * In/InSet longer than 64 entries.
  */
class FileInListSpec extends SparkSpec {
  import spark.implicits._

  // detection logic shared with the registry-wide Verify guard
  private def offendingIn(plan: LogicalPlan): Seq[String] =
    InListCheck.offendingIn(plan)

  test("bloom/RLI maintenance never plans In-lists over file paths") {
    val captured =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, LogicalPlan)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        captured.add(funcName -> qe.analyzed)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val dir = Files.createTempDirectory("inlist").toString + "/t"
      // 96 target files → the live manifest exceeds InListMax, so
      // every "file is live" membership test must take the join path
      val mk = (1 to 300).map(i => (i.toLong, 1L, i.toDouble)).toDF("k", "pc", "v")
      graft.etl.BloomTable.create(mk, dir, keys = Seq("k"), precombine = "pc",
        numFiles = 96)
      assert(graft.etl.BloomTable.manifest(dir).size > 64,
        "fixture must exceed the In-list bound for the test to bite")
      graft.etl.RecordIndex.build(spark, dir, numShards = 4)
      graft.etl.BloomTable.upsertInto(spark, dir,
        Seq((7L, 2L, 70.0), (301L, 1L, 301.0)).toDF("k", "pc", "v"))
      graft.etl.RecordIndex.refresh(spark, dir)
      graft.etl.BloomTable.deleteFrom(spark, dir, Seq(301L).toDF("k"))
      graft.etl.RecordIndex.refresh(spark, dir,
        staleKeys = Some(Seq(301L).toDF("k")))
      assert(graft.etl.RecordIndex.lookup(spark, dir, Seq(7L)).count() == 1)
      // key sets past the bound take the join path too
      graft.etl.BloomTable.deleteFrom(spark, dir, (200L to 299L).toDF("k"))
      assert(graft.etl.BloomTable.lookupMany(spark, dir,
        (150L to 249L).toDF("k")).count() == 50)
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
      val offenders = captured.asScala.toSeq.flatMap { case (fn, plan) =>
        offendingIn(plan).map(o => s"$fn: $o")
      }
      assert(offenders.isEmpty,
        s"file-path In-lists found in executed plans:\n${offenders.mkString("\n")}")
      assert(captured.asScala.nonEmpty, "listener captured no executions")
    } finally spark.listenerManager.unregister(listener)
  }

  test("the guard sees In-lists hidden inside subquery plans") {
    Seq((1L, "a"), (2L, "b")).toDF("k", "tag")
      .createOrReplaceTempView("inlist_outer")
    Seq(1L, 2L, 3L).toDF("k").createOrReplaceTempView("inlist_inner")
    val big = (1 to InListCheck.MaxLiterals + 6).mkString(", ")
    // the oversized In sits in the SUBQUERY's plan — node-local
    // expression walks never reach it, the guard must recurse
    val hidden = spark.sql(
      s"""SELECT * FROM inlist_outer
         |WHERE k IN (SELECT k FROM inlist_inner WHERE k IN ($big))""".stripMargin)
      .queryExecution.analyzed
    assert(InListCheck.offendingIn(hidden).nonEmpty,
      "oversized In inside a subquery escaped the guard")
    // a bounded subquery In-list stays clean
    val ok = spark.sql(
      """SELECT * FROM inlist_outer
        |WHERE k IN (SELECT k FROM inlist_inner WHERE k IN (1, 2, 3))""".stripMargin)
      .queryExecution.analyzed
    assert(InListCheck.offendingIn(ok).isEmpty)
  }
}
