package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** One timed operation of a workload's loop.
  *
  * @param kind   commit | read | maint | probe | query
  * @param name   the statement or registry query (merge, delete, pk, …)
  * @param layout the table layout it ran on ("" for corpus queries)
  * @param group  read kind or operator family ("" otherwise)
  * @param rows   batch rows applied (commits) or rows returned (reads)
  */
final case class Op(kind: String, name: String, layout: String,
    group: String, seconds: Double, ok: Boolean, error: String, rows: Long,
    stats: Option[Stats])

/** Runs operations: timed with the wall clock, accounted by the tracer
  * in the traced run, and recorded while `recording` is on (set-up and
  * warm-up statements run through the same path unrecorded). A thrown
  * exception marks the operation failed and the loop goes on.
  */
final class Recorder(tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer.empty[Op]
  var recording = false

  def run[T](kind: String, name: String, layout: String, group: String = "",
      dirs: Seq[String] = Nil, tableDir: Option[String] = None)(
      body: => T)(rows: T => Long): Option[T] = {
    def attempt(): Either[Throwable, T] =
      try Right(body) catch { case NonFatal(e) => Left(e) }
    val (result, seconds, stats) = tracer match {
      case Some(t) if recording =>
        val (r, s, st) = t.measure(dirs, tableDir)(attempt())
        (r, s, Some(st))
      case _ =>
        val t0 = System.nanoTime()
        val r = attempt()
        (r, (System.nanoTime() - t0) / 1e9, None)
    }
    if (recording) ops += Op(kind, name, layout, group, seconds,
      result.isRight, result.left.toOption.fold("")(e =>
        String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")),
      result.toOption.fold(0L)(rows), stats)
    result.toOption
  }
}

/** Order statistics and the metric dictionary. */
object Metrics {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private def stat(ops: Seq[Op])(f: Stats => Double): Double =
    ops.flatMap(_.stats).map(f).sum

  private def per(total: Double, n: Int): Double = if (n == 0) 0.0 else total / n

  val Layouts = Seq("bucket", "bloom", "partitioned", "mor", "timeline", "cow")
  val ReadKinds = Seq("pk", "secondary", "inlist", "range", "travel")
  val Families = Seq("dedup", "similarity", "ivf", "text", "retrieval")

  /** End-to-end figures, measured with tracing off: the median set-up,
    * and the time of one round of the workload's fixed operation list as
    * the sum, over its operations, of each one's median across the run's
    * rounds (a single slow round then moves each operation's figure only
    * if it holds the median).
    */
  def endToEnd(ops: Seq[Op], setupS: Seq[Double]): Seq[(String, Double, String)] = {
    val round = ops.groupBy(o => (o.kind, o.name, o.layout)).values
      .map(g => median(g.map(_.seconds))).sum
    Seq(("setup_s", median(setupS), "s"), ("round_s", round, "s"))
  }

  /** Per-layer figures from the traced run; a layer the workload does
    * not exercise reads 0.
    */
  def perLayer(ops: Seq[Op], loopS: Double, extra: Map[String, Double]): Seq[(String, Double, String)] = {
    val done = ops.filter(_.ok)
    val commits = done.filter(_.kind == "commit")
    val reads = done.filter(_.kind == "read")
    val queries = done.filter(_.kind == "query")
    val stmts = done.filter(o => o.kind != "query" && o.name != "pipeline")
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    Layouts.foreach { l =>
      val c = commits.filter(_.layout == l)
      out += ((s"commit_s.$l.p50", median(c.map(_.seconds)), "s"))
      out += ((s"jobs_per_commit.$l", per(stat(c)(_.jobs), c.size), "count"))
      out += ((s"schema_jobs_per_commit.$l", per(stat(c)(_.schemaJobs), c.size), "count"))
      out += ((s"driver_s_per_commit.$l", per(stat(c)(_.driverS), c.size), "s"))
      out += ((s"executor_s_per_commit.$l", per(stat(c)(_.executorS), c.size), "s"))
      out += ((s"bytes_written_per_commit.$l", per(stat(c)(_.bytesWritten), c.size), "bytes"))
      out += ((s"files_written_per_commit.$l", per(stat(c)(_.filesWritten), c.size), "count"))
    }
    out += (("planning_s_per_stmt", per(stat(stmts)(_.planningS), stmts.size), "s"))
    out += (("sql_execs_per_stmt", per(stat(stmts)(_.sqlExecs.toDouble), stmts.size), "count"))
    ReadKinds.foreach { k =>
      val r = reads.filter(_.group == k)
      out += ((s"read_s.$k.p50", median(r.map(_.seconds)), "s"))
      out += ((s"jobs_per_read.$k", per(stat(r)(_.jobs), r.size), "count"))
      out += ((s"schema_jobs_per_read.$k", per(stat(r)(_.schemaJobs), r.size), "count"))
      out += ((s"rows_scanned_per_row_returned.$k",
        if (r.isEmpty) 0.0 else stat(r)(_.recordsRead.toDouble) / r.map(_.rows).sum.max(1L),
        "ratio"))
    }
    out += (("index_bytes_written_per_commit",
      per(stat(commits)(_.indexBytesWritten), commits.size), "bytes"))
    val compactions = done.filter(_.name == "run_compaction")
    val cleans = done.filter(o => o.name == "clean" || o.name == "clean_commits")
    out += (("compaction_s", median(compactions.map(_.seconds)), "s"))
    out += (("compaction_bytes_rewritten",
      per(stat(compactions)(_.bytesWritten), compactions.size), "bytes"))
    out += (("clean_s", median(cleans.map(_.seconds)), "s"))
    out += (("mor_delta_depth.max", extra.getOrElse("mor_delta_depth.max", 0.0), "count"))
    Families.foreach { f =>
      val q = queries.filter(_.group == f)
      out += ((s"op_s.$f.p50", median(q.map(_.seconds)), "s"))
      out += ((s"jobs_per_op.$f", per(stat(q)(_.jobs), q.size), "count"))
      out += ((s"executor_s_per_op.$f", per(stat(q)(_.executorS), q.size), "s"))
      out += ((s"driver_s_per_op.$f", per(stat(q)(_.driverS), q.size), "s"))
    }
    val allJobs = stat(done)(_.jobs)
    out += (("tasks_per_job", if (allJobs == 0) 0.0 else stat(done)(_.tasks.toDouble) / allJobs, "count"))
    out += (("job_wall_s_per_op", per(stat(done)(_.jobWallS), done.size), "s"))
    out += (("gc_s_per_op", per(stat(done)(_.gcS), done.size), "s"))
    // the lake roll-ups: whole-statement figures of the table layer
    val applied = commits.map(_.rows).sum
    val writers = done.filter(o => o.kind == "commit" || o.kind == "maint")
    out += (("commit_s.p50", median(commits.map(_.seconds)), "s"))
    out += (("read_s.p50", median(reads.map(_.seconds)), "s"))
    out += (("rows_per_s", applied / loopS, "rows/s"))
    out += (("bytes_written_per_row",
      if (applied == 0) 0.0 else stat(writers)(_.bytesWritten) / applied, "bytes"))
    out += (("stored_bytes_per_row", extra.getOrElse("stored_bytes_per_row", 0.0), "bytes"))
    out.toSeq
  }
}

/** The run's report as JSON, with the Jackson that ships with Spark;
  * a `ListMap` keeps its keys in order.
  */
object Json {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
  def write(v: Any): String = mapper.writeValueAsString(v)
}
