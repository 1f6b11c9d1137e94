package graft.pipeline

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.Observation

/**
 * Bounded reads of [[org.apache.spark.sql.Observation]] metrics.
 *
 * The fixpoint loops (CC label propagation, k-core peel, BFS frontier,
 * rank setup, HITS normalizers) fold their per-round statistics into the
 * round's ONE materializing `localCheckpoint` as observed metrics — but
 * the metric value travels on the ASYNC listener bus
 * (`SparkListenerSQLExecutionEnd`), and a listener bus under backpressure
 * (heavy load / GC at the 100 TB posture) may DROP that event, in which
 * case `Observation.get` blocks the driver forever. Every read therefore
 * goes through [[Observed.millis]]-bounded waits here, with the call site
 * supplying a fallback that recomputes the SAME aggregate directly over
 * the already-checkpointed frame — one cheap flat scan, bit-identical
 * result (exact long aggregates over materialized data), so the loop's
 * determinism contract is unaffected by which path produced the number.
 */
private[graft] object Observed {

  /** How long to wait for the listener bus before falling back. Normal
   * path completes in milliseconds (the observing action has already
   * returned when we read); the bound only matters in the dropped-event
   * failure mode, where waiting longer buys nothing. */
  val millis: Long = 60000L

  /** The observed metric row as a name→value map, or None if the
   * execution-end event hasn't arrived within [[millis]]. An interrupt
   * propagates as InterruptedException: a cancelled caller must not go
   * on to launch the fallback job. */
  def metrics(obs: Observation): Option[Map[String, Any]] =
    try {
      Await.ready(obs.future, millis.milliseconds)
      obs.future.value.flatMap(_.toOption)
        .map(row => row.schema.fieldNames.zip(row.toSeq).toMap)
    } catch {
      case _: java.util.concurrent.TimeoutException => None
    }

  /** Long-valued metrics, in `keys` order, with a bounded wait;
   * `fallback` recomputes the same statistics (same order) from the
   * checkpointed frame ONLY if the event never arrives. A metric that
   * arrived as NULL (sum/max over an empty frame) reads as 0 — the same
   * coercion the blocking reads used. A missing key or a non-Long value
   * is a wiring bug, not a dropped event, so it fails loudly instead of
   * reading as 0 or recounting. */
  def longs(obs: Observation, keys: String*)(fallback: => Seq[Long]): Seq[Long] =
    metrics(obs) match {
      case Some(m) => keys.map(key => m.get(key) match {
        case Some(null) => 0L
        case Some(l: Long) => l
        case other => throw new IllegalStateException(
          s"observed metric '$key' is ${other.fold("missing")(v => s"a ${v.getClass.getName}")}, expected a Long")
      })
      case None => fallback
    }

  /** One long-valued metric, read under [[longs]]' rules. */
  def long(obs: Observation, key: String)(fallback: => Long): Long =
    longs(obs, key)(Seq(fallback)).head
}
