package perfbench

import graft.SparkEntry
import java.nio.file.{Files, Paths}

/** `corpus_ops`: LLM-data operator queries from the registry, in passes
  * over the generated documents/embeddings corpus. Every query listed
  * has oracle SQL: the warm-up runs each once and writes its result for
  * the DuckDB comparison, and every timed execution must hash equal to
  * it. The seed orders each pass. Set-up rebuilds the IVF artifact the
  * ANN query keeps under `target/graft-index` of the working directory.
  */
object CorpusOps {
  /** (registry name, family) */
  val Queries: Seq[(String, String)] = Seq(
    "dd_exact_survivors" -> "dedup",
    "sim_knn_per_query" -> "similarity",
    "sim_label_centroids" -> "similarity",
    "sim_ivf_search" -> "ivf",
    "tx_top_bigrams" -> "text",
    "tx_quality" -> "text",
    "tx_bm25_topk" -> "retrieval")
  /** The queries whose first run builds a persisted artifact. */
  val ArtifactQueries = Seq("sim_ivf_search")
  val Setups = 3
  /** Passes a run makes at least, so that each query's median is taken
    * over three executions.
    */
  val MinPasses = 3

  private def canonical(rows: Array[org.apache.spark.sql.Row]): Int =
    rows.map(_.toString).sorted.toSeq.hashCode

  private def release(ctx: Ctx): Unit = {
    ctx.spark.catalog.clearCache()
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val corpus = s"${ctx.in}/corpus"
    val registry = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val missing = Queries.map(_._1).filterNot(q => registry.contains(q) && oracles.contains(q))
    require(missing.isEmpty, s"not in the registry with oracle SQL: ${missing.mkString(", ")}")
    // warm-up: every query once, in parallel and unrecorded; its result is
    // kept for the oracle and every timed execution must hash equal to it
    val results = s"${ctx.work}/results"
    val expected = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    Main.parallel(Queries.map { case (q, _) => () =>
      val df = registry(q)(spark, corpus)
      val rows = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$results/$q")
      expected.put(q, canonical(rows))
    })
    release(ctx)
    Files.writeString(Paths.get(s"$results/oracle_sql.json"),
      Json.write(Queries.map { case (q, _) => q -> oracles(q) }.toMap))
    Main.phase("warm-up done")
    val setupS = (0 until Setups).map { _ =>
      Lake.deleteTree("target/graft-index")
      val t0 = System.nanoTime()
      ArtifactQueries.foreach(q => registry(q)(spark, corpus).collect())
      val s = (System.nanoTime() - t0) / 1e9
      release(ctx)
      Main.phase("set-up done")
      s
    }
    val rnd = new scala.util.Random(ctx.seed)
    val mismatched = scala.collection.mutable.LinkedHashSet.empty[String]
    ctx.rec.recording = true
    val t0 = System.nanoTime()
    var passes = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes < MinPasses || elapsed < ctx.seconds) {
      rnd.shuffle(Queries).foreach { case (q, family) =>
        ctx.rec.run("query", q, "", family)(registry(q)(spark, corpus).collect())(
          _.length.toLong).foreach { rows =>
          if (canonical(rows) != expected.get(q)) mismatched += q
        }
        release(ctx)
      }
      passes += 1
    }
    val loopS = elapsed
    ctx.rec.recording = false
    Main.phase("timed loop done")
    Outcome(setupS, loopS, passes,
      Seq(("repeat_results_match", mismatched.isEmpty, mismatched.mkString(", "))),
      Map.empty, Seq("passes" -> passes.toString, "results" -> results))
  }
}
