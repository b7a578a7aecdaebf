package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap

/** The benchmark's JVM side: one workload in one session, reported as
  * JSON for `run.py`.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *             --in DIR --work DIR --out FILE
  *
  * `--in` holds the generated inputs, `--work` is this run's scratch
  * directory (also the working directory, so artifacts the operators
  * keep relative to it stay inside). With `--trace 1` each recorded
  * operation is accounted by [[Tracer]] and the per-layer figures are
  * reported; otherwise the end-to-end ones.
  */
object Main {
  private val t0 = System.nanoTime()
  /** Progress on stderr, with seconds since the JVM's start of work. */
  def phase(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.1fs $msg")

  /** Run the tasks in threads of their own; rethrows the first failure. */
  def parallel(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = t()
    })).foreach(_.get())
    finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val cores = a("cores").toInt
    val traced = a("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a("work")}/spark-warehouse")
      .config("spark.local.dir", s"${a("work")}/spark-local")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("session started")
    try {
      val tracer = if (traced) Some(new Tracer(spark)) else None
      val rec = new Recorder(tracer)
      val ctx = Ctx(spark, a("in"), a("work"), rec, a("seed").toLong,
        a("seconds").toDouble, cores, traced)
      val outcome = workload match {
        case "lake_ingest" => LakeIngest.run(ctx)
        case "corpus_ops" => CorpusOps.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      phase("checks done")
      val ops = rec.ops.toSeq
      val metrics =
        if (traced) Metrics.perLayer(ops, outcome.loopS, outcome.extra)
        else Metrics.endToEnd(ops, outcome.setupS)
      val json = Json.write(ListMap(
        "workload" -> workload,
        "loop_s" -> outcome.loopS,
        "rounds" -> outcome.rounds,
        "setup_s" -> outcome.setupS,
        "ops" -> ops.map(o => ListMap("kind" -> o.kind, "name" -> o.name,
          "layout" -> o.layout, "group" -> o.group, "seconds" -> o.seconds,
          "ok" -> o.ok, "error" -> o.error, "rows" -> o.rows)),
        "checks" -> outcome.checks.map { case (n, ok, detail) =>
          ListMap("name" -> n, "ok" -> ok, "detail" -> detail) },
        "metrics" -> ListMap(metrics.map { case (n, v, u) =>
          n -> ListMap("value" -> v, "unit" -> u) }: _*),
        "info" -> ListMap(outcome.info: _*)))
      Files.writeString(Paths.get(a("out")), json)
    } finally spark.stop()
    phase("session stopped")
  }
}
