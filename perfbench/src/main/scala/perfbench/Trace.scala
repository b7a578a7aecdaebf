package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** What one operation cost below the wall clock, from the traced run. */
final case class Stats(
    jobs: Int, schemaJobs: Int, tasks: Long,
    executorS: Double, jobWallS: Double, driverS: Double,
    planningS: Double, sqlExecs: Long, gcS: Double, recordsRead: Long,
    filesWritten: Long, bytesWritten: Long, indexBytesWritten: Long)

/** Spark-side accounting for the traced run: one listener on the
  * scheduler bus (jobs, tasks, SQL executions) and one query-execution
  * listener (Catalyst phase times). Events are buffered and drained per
  * operation; the bus is flushed before and after each operation so
  * every event lands on the operation that caused it.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Tracer.Job
  private val open = mutable.Map.empty[Int, (Long, Boolean)]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private var tasks = 0L
  private var executorMs = 0L
  private var recordsRead = 0L
  private var sqlExecs = 0L
  private var planningMs = 0L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** A footer-schema inference is a job of one `parquet at …` stage run
    * outside any SQL execution (a parquet write carries an execution id).
    */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val outsideSql = Option(e.properties)
      .forall(_.getProperty("spark.sql.execution.id") == null)
    val schema = outsideSql && e.stageInfos.size == 1 &&
      e.stageInfos.head.name.startsWith("parquet at ")
    open(e.jobId) = (e.time, schema)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (s, schema) =>
      jobs += Job(s, e.time, schema)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      executorMs += m.executorRunTime
      recordsRead += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => synchronized { sqlExecs += 1 }
    case _ =>
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    planningMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)

  private def flush(): Unit =
    org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)

  private def reset(): Unit = synchronized {
    jobs.clear(); tasks = 0; executorMs = 0; recordsRead = 0
    sqlExecs = 0; planningMs = 0
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
  }

  /** Run `body` and account for it. `dirs` are walked before and after
    * to count what the operation wrote; files outside `tableDir` (index
    * artifacts beside the table) count as index bytes as well.
    */
  def measure[T](dirs: Seq[String], tableDir: Option[String])(
      body: => T): (T, Double, Stats) = {
    flush(); reset()
    val before = dirs.map(Tracer.snapshot).foldLeft(Map.empty[String, (Long, Long)])(_ ++ _)
    val gc0 = gcMs()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val seconds = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    val gc1 = gcMs()
    flush()
    val after = dirs.map(Tracer.snapshot).foldLeft(Map.empty[String, (Long, Long)])(_ ++ _)
    val written = after.filter { case (p, v) => !before.get(p).contains(v) }
    val index = tableDir.fold(Map.empty[String, (Long, Long)]) { t =>
      written.filter { case (p, _) => !p.startsWith(t + "/") }
    }
    val stats = synchronized {
      // union of the job intervals, clipped to the operation
      val spans = jobs.map(j => (j.start.max(w0), j.end.min(w1)))
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      spans.foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else curE = curE.max(e)
      }
      covered += curE - curS
      val jobWall = covered / 1e3
      Stats(jobs.size, jobs.count(_.schema), tasks, executorMs / 1e3,
        jobWall, (seconds - jobWall).max(0.0), planningMs / 1e3, sqlExecs,
        (gc1 - gc0) / 1e3, recordsRead, written.size.toLong,
        written.values.map(_._1).sum, index.values.map(_._1).sum)
    }
    (out, seconds, stats)
  }
}

object Tracer {
  private final case class Job(start: Long, end: Long, schema: Boolean)

  /** Every regular file under `dir`: path → (size, mtime). */
  def snapshot(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try {
        val b = Map.newBuilder[String, (Long, Long)]
        s.iterator().forEachRemaining { (p: Path) =>
          if (Files.isRegularFile(p))
            b += p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
        }
        b.result()
      } finally s.close()
    }
  }

  def bytesUnder(dir: String): Long = snapshot(dir).values.map(_._1).sum
}
