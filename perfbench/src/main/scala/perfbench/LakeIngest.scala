package perfbench

import graft.etl.{Pipeline, PipelineConfig, RunResult, Watermark}
import org.apache.spark.sql.{Row, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable

/** Checks and figures a workload hands back to [[Main]]. */
final case class Outcome(setupS: Seq[Double], loopS: Double, rounds: Int,
    checks: Seq[(String, Boolean, String)], extra: Map[String, Double],
    info: Seq[(String, String)])

/** Everything a workload needs from the command line. */
final case class Ctx(spark: SparkSession, in: String, work: String,
    rec: Recorder, seed: Long, seconds: Double, cores: Int, traced: Boolean)

/** `lake_ingest`: daily incremental batches into the five layouts, with
  * index-served reads between the writes. Set-up loads the first
  * [[InitDays]] days and binds the indexes (SECONDARY on bloom's
  * user_id, COLUMN_STATS on bucket's value). Each timed round is one
  * source day:
  *   - `Pipeline.run` ingests the day's new-events file into the
  *     copy-on-write `HudiLike` table and appends its audit-log row
  *     (the injected clock stands at the end of that day);
  *   - the day's keyed batch (new events + corrections) is MERGEd into
  *     the bucket, bloom, partitioned, MOR and timeline tables;
  *   - one read of each kind through `SqlRead.select`: key point reads
  *     (partition scan on partitioned, log merge on MOR), a secondary
  *     equality on bloom, a key IN-list and a value range on bucket,
  *     and `VERSION AS OF` the day before on timeline;
  *   - that day's user erasure runs as a DELETE on the MOR and timeline
  *     tables ([[Erased]]);
  *   - `run_compaction` on MOR, `clean` on every table
  *     (`clean_commits` keeping two versions on timeline);
  *   - the `CALL show_commits` probe on every table.
  * Rounds run until the time is up; the round that crosses it completes.
  */
object LakeIngest {
  val InitDays = 20
  /** The layouts the day's user erasure runs on: MOR (a delete log) and
    * timeline (a new version). A DELETE costs about what a MERGE on the
    * same table does (~4 s on bloom, ~1.5 s on bucket and partitioned,
    * ~0.6 s on these two), and the run's time holds only these two.
    */
  val Erased: Seq[String] = Seq("mor", "timeline")
  /** Rows of each layout's model, by key. */
  type State = Map[String, Map[Long, Ev]]
  val Setups = 2

  private final class Ingest(val lake: Lake) {
    val source = s"${lake.root}/source"
    var nowMs = 0L
    val conf = PipelineConfig(s"ingest_${lake.tag}", source,
      s"${lake.root}/cow/t", s"${lake.root}/cow/log", () => nowMs)
    var tlVersion = 0 // the timeline's newest version
    val newestSeen = mutable.Map.empty[String, Long] // per layout, by the probe
  }

  /** One statement of a round: what it runs, how many rows it counts,
    * and what about its result disagrees with the model.
    */
  private final case class Stmt(kind: String, name: String, layout: String,
      group: String, dirs: Seq[String], table: Option[String],
      body: () => Any, rows: Any => Long = _ => 0L,
      check: Any => Option[String] = _ => None)

  private def endOfDayMs(day: Int): Long = 1704067200000L + (day + 1) * 86400000L - 1

  private def arrive(ctx: Ctx, ing: Ingest, day: Int): Unit = Files.copy(
    Paths.get(Lake.rawPath(ctx.in, day)),
    Paths.get(f"${ing.source}/day=$day%02d.parquet"),
    StandardCopyOption.REPLACE_EXISTING)

  /** The set-up of one lane: a layout with its indexes, or ("cow") the
    * pipeline's full load of the first days.
    */
  private def setupLane(ctx: Ctx, ing: Ingest, lane: String): Unit = lane match {
    case "cow" =>
      Files.createDirectories(Paths.get(ing.source))
      (0 until InitDays).foreach(arrive(ctx, ing, _))
      ing.nowMs = endOfDayMs(InitDays - 1)
      Pipeline.run(ctx.spark, ing.conf)
    case l =>
      val lake = ing.lake
      // bucket and bloom keep one file per core
      lake.create(l, s"init_${lake.tag}", ctx.cores)
      if (l == "bloom") lake.index(
        s"CREATE INDEX sec_user_${lake.tag} ON ${lake.name(l)} USING SECONDARY (user_id)")
      if (l == "bucket") lake.index(
        s"CREATE INDEX stats_${lake.tag} ON ${lake.name(l)} USING COLUMN_STATS (value)")
  }

  private val Lanes = "cow" +: Lake.Layouts

  private def newLake(ctx: Ctx, tag: String): Ingest = {
    val ing = new Ingest(new Lake(ctx.spark, s"${ctx.work}/$tag", tag))
    Lake.batchView(ctx.spark, ctx.in, 0 until InitDays, s"init_$tag")
    ing
  }

  /** The reads of a round: (kind, layout, SQL predicate, model filter, version). */
  private def reads(rnd: java.util.Random, rows: Map[Long, Ev], prevVersion: Int)
      : Seq[(String, String, String, Ev => Boolean, Option[Int])] = {
    val ks = rows.keysIterator.toIndexedSeq
    def key(): Long = ks(rnd.nextInt(ks.size))
    val (k1, k2) = (key(), key())
    val u = rows(key()).userId
    val in = Seq.fill(5)(key()).distinct
    val lo = rnd.nextInt(150)
    val tu = rows(key()).userId
    Seq(
      ("pk", "partitioned", s"event_id = $k1", _.eventId == k1, None),
      ("pk", "mor", s"event_id = $k2", _.eventId == k2, None),
      ("secondary", "bloom", s"user_id = $u", _.userId == u, None),
      ("inlist", "bucket", s"event_id IN (${in.mkString(", ")})",
        e => in.contains(e.eventId), None),
      ("range", "bucket", s"value BETWEEN $lo AND ${lo + 2}",
        e => e.value >= lo && e.value <= lo + 2, None),
      ("travel", "timeline", s"user_id = $tu", _.userId == tu, Some(prevVersion)))
  }

  /** A source day begins: its file arrives in the pipeline's source and
    * the injected clock stands at the end of that day.
    */
  private def open(ctx: Ctx, ing: Ingest, day: Int): Unit = {
    arrive(ctx, ing, day)
    ing.nowMs = endOfDayMs(day)
  }

  /** One source day's statements, in order, and the model after them.
    * The day's batch is registered here, before any statement runs.
    */
  private def round(ctx: Ctx, ing: Ingest, day: DayInfo, batch: Seq[Ev],
      before: State, rnd: java.util.Random): (Seq[Stmt], State) = {
    val lake = ing.lake
    def on(l: String) = (Seq(lake.dir(l)), Some(lake.path(l)))
    def stmt(kind: String, name: String, l: String)(body: => Any) = {
      val (dirs, table) = on(l)
      Stmt(kind, name, l, "", dirs, table, () => body)
    }
    val view = s"batch_${lake.tag}_${day.day}"
    Lake.batchView(ctx.spark, ctx.in, Seq(day.day), view)
    val merged = before.map { case (l, rows) =>
      l -> { val m = new Model(rows); m.upsert(batch); m.rows } }
    val after = merged.map { case (l, rows) =>
      l -> (if (Erased.contains(l)) rows.filter(_._2.userId != day.eraseUser) else rows) }
    val v0 = ing.tlVersion
    val cow = s"${lake.root}/cow"
    val pipeline = Stmt("commit", "pipeline", "cow", "", Seq(cow), Some(cow),
      () => Pipeline.run(ctx.spark, ing.conf),
      r => r.asInstanceOf[RunResult].recordsProcessed)
    val merges = Lake.Layouts.map(l =>
      stmt("commit", "merge", l)(lake.merge(l, view)).copy(rows = _ => day.batchRows))
    val selects = reads(rnd, merged("bucket"), v0).map { case (kind, l, where, p, version) =>
      val want = (if (version.isDefined) before else merged)(l)
        .valuesIterator.filter(p).toSeq.sortBy(_.eventId)
      Stmt("read", kind, l, kind, Nil, None, () => lake.select(l, where, version),
        r => r.asInstanceOf[Seq[Ev]].size.toLong,
        r => if (r == want) None else Some(s"$kind on $l [$where" +
          s"${version.fold("")(v => s" @v$v")}]: ${r.asInstanceOf[Seq[Ev]].size} rows, " +
          s"model ${want.size}"))
    }
    val deletes = Erased.map(l =>
      stmt("commit", "delete", l)(lake.eraseUser(l, day.eraseUser)))
    val compaction = stmt("maint", "run_compaction", "mor")(
      lake.call(s"CALL run_compaction('${lake.name("mor")}')"))
    val cleans = Lake.Layouts.map { l =>
      if (l == "timeline")
        stmt("maint", "clean_commits", l)(lake.call(s"CALL clean_commits('${lake.name(l)}', 2)"))
      else stmt("maint", "clean", l)(lake.call(s"CALL clean('${lake.name(l)}')"))
    }
    // On timeline the MERGE and the DELETE each make a version. The other
    // layouts number their commits their own way (MOR's compaction adds
    // a base generation), so there the history must only be non-empty,
    // its versions distinct, and its newest above the last round's.
    val probes = Lake.Layouts.map { l =>
      Stmt("probe", "show_commits", l, "", Nil, None,
        () => lake.call(s"CALL show_commits('${lake.name(l)}')"),
        r => r.asInstanceOf[Array[Row]].length.toLong,
        r => {
          val versions = r.asInstanceOf[Array[Row]].map(_.getAs[Long]("version")).toSeq
          val newest = versions.maxOption
          val last = ing.newestSeen.get(l)
          newest.foreach(ing.newestSeen(l) = _)
          if (l == "timeline") {
            if (newest.contains(v0 + 2L)) None
            else Some(s"show_commits on $l: newest version $newest, want ${v0 + 2}")
          } else if (versions.isEmpty || versions.distinct.size != versions.size ||
              last.exists(v => newest.forall(_ <= v)))
            Some(s"show_commits on $l: versions ${versions.mkString(",")} after newest $last")
          else None
        })
    }
    ing.tlVersion = v0 + 2
    (pipeline +: merges ++: selects ++: deletes ++: compaction +: cleans ++: probes, after)
  }

  /** Warm-up: the set-up and the first round on a throwaway lake,
    * unrecorded, each lane (a layout, or the pipeline) in a thread of its
    * own that sets its table up and then runs that table's statements of
    * the round. A JIT-cold statement runs at up to 2.4x its steady time;
    * in parallel the warming takes about 60% of the wall time it would in
    * order.
    */
  private def warmUp(ctx: Ctx, day: DayInfo, batch: Seq[Ev], rows: Map[Long, Ev]): Unit = {
    val ing = newLake(ctx, "warm")
    val (stmts, _) = round(ctx, ing, day, batch, Lake.Layouts.map(_ -> rows).toMap,
      new java.util.Random(ctx.seed))
    Main.parallel(Lanes.map(l => () => {
      setupLane(ctx, ing, l)
      if (l == "cow") open(ctx, ing, day.day)
      stmts.filter(_.layout == l).foreach(s =>
        ctx.rec.run(s.kind, s.name, s.layout)(s.body())(_ => 0L))
    }))
    Lake.deleteTree(ing.lake.root)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val days = Lake.manifest(ctx.in)
    val batches = Lake.readBatches(ctx.in, days.size)
    def initModel(): Model = {
      val m = new Model()
      (0 until InitDays).foreach(d => m.upsert(batches(d)))
      m
    }
    warmUp(ctx, days(InitDays), batches(InitDays), initModel().rows)
    Main.phase("warm-up done")
    // set-up, twice, each lane in a thread of its own as in the warm-up:
    // the median is the figure, and the last lake is used. In parallel a
    // set-up takes ~60% of its sequential time.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var ing: Ingest = null
    (0 until Setups).foreach { i =>
      if (ing != null) Lake.deleteTree(ing.lake.root)
      val t0 = System.nanoTime()
      val fresh = newLake(ctx, s"lake$i")
      Main.parallel(Lanes.map(l => () => setupLane(ctx, fresh, l)))
      setupS += (System.nanoTime() - t0) / 1e9
      ing = fresh
      Main.phase(s"set-up $i done")
    }
    var state: State = Lake.Layouts.map(_ -> initModel().rows).toMap
    val rnd = new java.util.Random(ctx.seed * 7919 + 1)
    val bad = mutable.ArrayBuffer.empty[String]
    var maxDepth = 0L
    ctx.rec.recording = true
    val t0 = System.nanoTime()
    var d = InitDays
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (d < days.size && (d == InitDays || elapsed < ctx.seconds)) {
      open(ctx, ing, days(d).day)
      val (stmts, after) = round(ctx, ing, days(d), batches(d), state, rnd)
      stmts.foreach { s =>
        if (ctx.traced && s.name == "run_compaction")
          maxDepth = maxDepth.max(ing.lake.morDepth())
        ctx.rec.run(s.kind, s.name, s.layout, s.group, s.dirs, s.table)(s.body())(s.rows)
          .foreach(r => s.check(r).foreach(bad += _))
      }
      state = after
      d += 1
    }
    val loopS = elapsed
    ctx.rec.recording = false
    Main.phase("timed loop done")
    val stepped = InitDays until d
    val checks = Seq.newBuilder[(String, Boolean, String)]
    checks += (("reads_match_model", bad.isEmpty, bad.take(5).mkString("; ")))
    // every layout holds exactly its model; the erased layouts hold the
    // same rows, so they end identical
    Lake.Layouts.foreach { l =>
      val got = ing.lake.all(l)
      val expected = state(l).values.toSeq.sortBy(_.eventId)
      checks += ((s"final_state.$l", got == expected,
        s"${got.size} rows, model ${expected.size}"))
    }
    // the audit log: one SUCCESS row per round after the set-up's full
    // load, each counting that day's file, watermarks chained and rising
    val log = Watermark.readLog(spark, ing.conf.logPath)
      .filter(s"pipeline_name = '${ing.conf.name}'").orderBy("created_at")
      .select("status", "records_processed", "last_run_timestamp",
        "current_run_timestamp").collect().toSeq
    val wantCounts = (0 until InitDays).map(days(_).rawRows).sum +: stepped.map(days(_).rawRows)
    val marks = log.map(_.getLong(3))
    val chained = log.nonEmpty && log.head.isNullAt(2) && log.tail.zip(marks).forall {
      case (r, prev) => !r.isNullAt(2) && r.getLong(2) == prev }
    val rising = marks.zip(marks.drop(1)).forall { case (a, b) => a < b }
    checks += (("audit_log.rows",
      log.size == wantCounts.size && log.forall(_.getString(0) == "SUCCESS"),
      s"${log.size} rows, want ${wantCounts.size} SUCCESS"))
    checks += (("audit_log.records_processed", log.map(_.getInt(1).toLong) == wantCounts,
      s"${log.map(_.getInt(1)).mkString(",")} vs ${wantCounts.mkString(",")}"))
    checks += (("audit_log.watermarks", chained && rising, marks.mkString(",")))
    // the copy-on-write target holds every ingested event exactly once
    val ingested = (0 until d).map(days(_).rawRows).sum
    val cow = spark.read.parquet(ing.conf.targetPath)
      .selectExpr("count(*)", "count(DISTINCT event_id)").head()
    checks += (("cow_target", cow.getLong(0) == ingested && cow.getLong(1) == ingested,
      s"${cow.getLong(0)} rows, ${cow.getLong(1)} keys, want $ingested"))
    // live bytes after a final clean, per live row (a per-layer figure)
    val stored = if (!ctx.traced) 0.0 else {
      Lake.Layouts.foreach { l =>
        if (l == "timeline") ing.lake.call(s"CALL clean_commits('${ing.lake.name(l)}', 1)")
        else ing.lake.call(s"CALL clean('${ing.lake.name(l)}')")
      }
      ing.lake.storedBytes().toDouble / state.values.map(_.size).sum.max(1)
    }
    Outcome(setupS.toSeq, loopS, stepped.size, checks.result(),
      Map("stored_bytes_per_row" -> stored, "mor_delta_depth.max" -> maxDepth.toDouble),
      Seq("rounds" -> stepped.size.toString, "init_days" -> InitDays.toString,
        "live_rows" -> state("bucket").size.toString))
  }
}
