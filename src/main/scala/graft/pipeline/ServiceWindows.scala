package graft.pipeline

import java.sql.Timestamp

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, IntervalUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The streaming branch of the raw-log window stages: event-time windows
  * per `service` that close in the micro-batch that closes them.
  *
  * Spark's append-mode aggregation evicts a window when the query watermark
  * passes its end, and that watermark is computed from the micro-batches
  * *before* the current one. A window therefore comes out one trigger after
  * the batch that carried its closing event. The reference's detectors fire
  * as soon as the in-stream watermark (max event time − delay) passes the
  * end (SURVEY W4/W8). This operator does that, per service:
  *
  *  1. Spark's own `window(event_time, size, slide)` assigns each row its
  *     windows, the expression the batch branch groups by, so batch and
  *     streaming windows cannot disagree.
  *  2. The micro-batch's rows are folded into the service's windows that
  *     end after the query watermark; a row's pair with an earlier window
  *     is dropped as late.
  *  3. Every window with end ≤ max(query watermark, the service's max event
  *     time in the batch − delay) then closes and is emitted.
  *  4. The event-time timeout is the earliest open end − 1 ms: an idle
  *     service's windows close once the query watermark reaches their end,
  *     in the batch Spark's aggregation would close them.
  *
  * The next batch's query watermark is at least every service's max event
  * time − delay, so it is at least the bound each service has closed
  * through: a closed window cannot reopen or emit twice, and the state is
  * only the open windows (removed when there are none).
  *
  * In-order rows, and rows at most `delay` behind the newest event, land in
  * open windows only, so the output equals the aggregation's. A row further
  * behind is dropped from every window that has closed: the reference's
  * bounded-out-of-orderness contract. */
object ServiceWindows {

  final case class Span(start: Timestamp, end: Timestamp)

  /** One (row, window) pair; `ts` is the row's event time in µs. */
  final case class Pair(service: String, window: Span, ts: Long, v: Double)

  /** An open window, bounds in µs. */
  final case class Open[A](start: Long, end: Long, acc: A)

  /** Per-service state: the open windows, by end. */
  final case class Svc[A](open: Seq[Open[A]])

  /** A closed window of `service`, bounds in µs. */
  final case class Closed[A](service: String, start: Long, end: Long, acc: A)

  /** Windows of `logs` (service, event_time) folded by `add` over `value`,
    * emitted once each as they close. `logs` must be streaming. */
  def apply[A: TypeTag](logs: DataFrame, size: String, slide: String, delay: String, value: Column)
                       (zero: A)(add: (A, Seq[Double]) => A): Dataset[Closed[A]] = {
    val delayUs = EventTimeWatermark.getDelayMs(IntervalUtils.fromIntervalString(delay)) * 1000
    logs.withWatermark("event_time", delay)
      .select(col("service"), window(col("event_time"), size, slide).as("window"),
        unix_micros(col("event_time")).as("ts"), value.cast("double").as("v"))
      .as(Encoders.product[Pair])
      .groupByKey((p: Pair) => p.service)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        fold(delayUs, zero, add))(Encoders.product[Svc[A]], Encoders.product[Closed[A]])
  }

  /** Window bound in µs → whole seconds, as `unix_timestamp` reads it. */
  def seconds(us: Long): Long = Math.floorDiv(us, 1000000L)

  private def fold[A](delayUs: Long, zero: A, add: (A, Seq[Double]) => A)
      : (String, Iterator[Pair], GroupState[Svc[A]]) => Iterator[Closed[A]] = (service, rows, state) => {
    val watermarkUs = state.getCurrentWatermarkMs() * 1000
    var closeUs = watermarkUs
    val added = mutable.Map[(Long, Long), mutable.ArrayBuffer[Double]]()
    rows.foreach { r =>
      closeUs = math.max(closeUs, r.ts - delayUs)
      val end = DateTimeUtils.fromJavaTimestamp(r.window.end)
      if (end > watermarkUs)
        added.getOrElseUpdate((DateTimeUtils.fromJavaTimestamp(r.window.start), end), mutable.ArrayBuffer()) += r.v
    }
    val accs = state.getOption.fold(Map.empty[(Long, Long), A])(_.open.map(w => (w.start, w.end) -> w.acc).toMap)
    val windows = (accs.keySet ++ added.keySet).toSeq.sortBy(_.swap).map { case k @ (start, end) =>
      Open(start, end, added.get(k).fold(accs(k))(vs => add(accs.getOrElse(k, zero), vs.toSeq)))
    }
    val (closed, open) = windows.partition(_.end <= closeUs)
    if (open.isEmpty) state.remove()
    else {
      state.update(Svc(open))
      state.setTimeoutTimestamp(Math.floorDiv(open.head.end - 1, 1000L))
    }
    closed.iterator.map(w => Closed(service, w.start, w.end, w.acc))
  }
}
