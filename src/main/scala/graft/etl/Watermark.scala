package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** A single audit-log row, mirroring the reference's log-table schema
  * (reference: pipeline_architecture.py:100-117 DDL and the StructType at
  * py:166-175). Timestamps are epoch millis (BIGINT), as in the reference.
  */
case class LogEntry(
    pipeline_name: String,
    last_run_timestamp: Option[Long],
    current_run_timestamp: Long,
    status: String, // SUCCESS | FAILED
    records_processed: Int,
    processing_time_seconds: Double,
    error_message: Option[String],
    created_at: Long)

/** Watermark persistence + recovery over a pipeline-log table.
  *
  * The reference stores per-run audit rows in `pipeline_layer.pipeline_log`
  * (Hudi CoW, composite key `pipeline_name,created_at`, precombine
  * `created_at` — py:112-116) and recovers the watermark with a
  * top-1-by-timestamp query (`get_last_run_timestamp`, py:128-148).
  */
object Watermark {

  val logSchema: StructType = StructType(Seq(
    StructField("pipeline_name", StringType, nullable = false),
    StructField("last_run_timestamp", LongType, nullable = true),
    StructField("current_run_timestamp", LongType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("records_processed", IntegerType, nullable = true),
    StructField("processing_time_seconds", DoubleType, nullable = true),
    StructField("error_message", StringType, nullable = true),
    StructField("created_at", LongType, nullable = false)))

  val logKeys: Seq[String] = Seq("pipeline_name", "created_at")
  val logPrecombine: String = "created_at"

  def readLog(spark: SparkSession, logPath: String): DataFrame =
    if (Files.exists(Paths.get(logPath))) UnitSchema.read(spark, logPath)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], logSchema)

  /** Append one audit row via keyed upsert (reference writes the log with
    * the same Hudi upsert path as the fact table, py:179-194).
    */
  def writeEntry(spark: SparkSession, logPath: String, e: LogEntry): Unit = {
    val row = Row(
      e.pipeline_name, e.last_run_timestamp.map(Long.box).orNull,
      e.current_run_timestamp, e.status, e.records_processed,
      e.processing_time_seconds, e.error_message.orNull, e.created_at)
    val df = spark.createDataFrame(
      java.util.Collections.singletonList(row), logSchema)
    HudiLike.upsertInto(spark, logPath, df, logKeys, logPrecombine)
  }

  /** Watermark recovery: the `current_run_timestamp` of the most recent
    * SUCCESS run, or None on first run / missing log (py:128-148: the
    * failure path warns and treats the run as a full load).
    * Implemented as `max()` — equivalent to the reference's
    * `ORDER BY current_run_timestamp DESC LIMIT 1` + `collect()[0]` but a
    * single partial/final agg instead of a global sort (§6 of SURVEY.md).
    */
  def lastSuccessfulRun(
      spark: SparkSession, logPath: String, pipeline: String): Option[Long] =
    try {
      val r = readLog(spark, logPath)
        .filter(col("pipeline_name") === pipeline && col("status") === "SUCCESS")
        .agg(max(col("current_run_timestamp")).as("wm"))
        .head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    } catch { case _: Exception => None }

  /** The monitoring query (`get_pipeline_status`, py:337-369): recent runs
    * with epoch-millis columns rendered as timestamps, newest first.
    */
  def status(spark: SparkSession, logPath: String, days: Int = 7,
      now: Long = System.currentTimeMillis()): DataFrame = {
    val cutoff = now - days.toLong * 24 * 60 * 60 * 1000
    readLog(spark, logPath)
      .filter(col("current_run_timestamp") >= lit(cutoff))
      .select(
        col("pipeline_name"),
        timestamp_millis(col("current_run_timestamp")).as("run_time"),
        col("status"), col("records_processed"),
        col("processing_time_seconds"), col("error_message"))
      .orderBy(col("run_time").desc)
  }

  /** Console sink (SURVEY.md §2.1 S6): the reference ends its monitoring
    * path with `result.show(truncate=False)` (py:362).
    */
  def printStatus(spark: SparkSession, logPath: String, days: Int = 7): Unit =
    status(spark, logPath, days).show(truncate = false)
}
