package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Observation}

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

/** Fuse driver-side batch reads (emptiness gates, routing collects)
  * into the batch's own `localCheckpoint` job via observed metrics
  * (guide §2.4 — remove duplicated passes): the checkpoint
  * materializes every row anyway, so a `count` / `collect_set` that
  * previously cost its own Spark action rides along for free.
  * `Observation` delivers on the checkpoint action itself with zero
  * further jobs (verified by `tools.ObsProbe`; `FuseSpec` pins it).
  */
object Fuse {

  /** Bounded wait for the observation listener bus. The metrics are
    * computed synchronously inside the checkpoint job; only their
    * delivery to the `Observation` promise rides the (async) listener
    * bus, so this bound is never hit in practice — it exists so a
    * dropped bus event degrades to one extra (correct) aggregation job
    * instead of a hang.
    */
  private val MetricWaitSec = 120

  private implicit val ec: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.global

  /** `df.localCheckpoint()` plus the values of `aggs` over `df`,
    * computed INSIDE the checkpoint job. Returns the checkpointed
    * frame and the aggregate values in call order.
    */
  def checkpointObserved(df: DataFrame, aggs: Column*): (DataFrame, IndexedSeq[Any]) =
    observed(df, aggs)(_.localCheckpoint())

  /** Run `write` over `df` observed by `aggs` and return the values,
    * computed INSIDE the write job.
    */
  def writeObserved(df: DataFrame, aggs: Column*)(
      write: DataFrame => Unit): IndexedSeq[Any] =
    observed(df, aggs)(write)._2

  /** Run `action` over `df` observed by `aggs`: the action's result and
    * the aggregate values in call order. A lost listener event
    * recomputes the values from `df` (one extra job, same values).
    */
  private def observed[T](df: DataFrame, aggs: Seq[Column])(
      action: DataFrame => T): (T, IndexedSeq[Any]) = {
    if (aggs.isEmpty) return (action(df), IndexedSeq.empty)
    val obs = Observation()
    val named = aggs.zipWithIndex.map { case (c, i) => c.as(s"__fuse$i") }
    val out = action(df.observe(obs, named.head, named.tail: _*))
    val got =
      try {
        val m = Await.result(Future(obs.get), MetricWaitSec.seconds)
        aggs.indices.map(i => m(s"__fuse$i"))
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          val r = df.agg(named.head, named.tail: _*).head()
          aggs.indices.map(r.get)
      }
    (out, got)
  }

  /** [[checkpointObserved]] with the one metric every commit gate
    * needs: the row count (an `isEmpty` that costs no extra job).
    */
  def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val (ck, vs) = checkpointObserved(df,
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)))
    (ck, vs.head.asInstanceOf[Number].longValue())
  }
}
