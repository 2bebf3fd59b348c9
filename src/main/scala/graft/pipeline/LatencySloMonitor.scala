package graft.pipeline

import graft.agg.PercentileDisc
import graft.model.{IncidentAlert, P95Window}
import graft.stateful.BreachDetector
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Stage 1b — latency SLO monitor (flink/latency_slo_monitor.py): 1-minute
  * tumbling exact-p95 per service (W2+A2), then the consecutive-breach state
  * machine (ST1).
  *
  * Like the reference (which runs window→process then a second key_by), this
  * is two keyed stages. Stage A emits closed windows: in batch the
  * declarative `groupBy(service, window(...))` with the [[PercentileDisc]]
  * aggregate; streaming, [[ServiceWindows]] keyed by `service` (append mode,
  * a window closes in the micro-batch that carries its service's closing
  * event). Both take the p95 by the one floor-index rule,
  * `PercentileDisc.of`. Spark does not run stage B's update-mode
  * flatMapGroupsWithState after another stateful operator in one query, so
  * the stages connect exactly where the reference puts its topic boundary:
  * stage B consumes stage A's rows — or, in batch mode, the two compose
  * directly in one plan.
  */
object LatencySloMonitor {

  val Window = "1 minute"     // latency_slo_monitor.py:141
  val Watermark = "5 seconds" // latency_slo_monitor.py:129-133

  /** Stage A: per-(service, 1-min window) exact discrete p95. */
  def p95Windows(logs: DataFrame,
                 windowSize: String = Window,
                 watermark: String = Watermark): Dataset[P95Window] = {
    import logs.sparkSession.implicits._
    if (logs.isStreaming)
      ServiceWindows(logs, windowSize, windowSize, watermark, col("latency_ms"))(Seq.empty[Double])(_ ++ _)
        .map(w => P95Window(w.service, ServiceWindows.seconds(w.start), ServiceWindows.seconds(w.end),
          PercentileDisc.of(0.95, w.acc)))
    else
      logs.groupBy(col("service"), window(col("event_time"), windowSize))
        .agg(PercentileDisc.p95(col("latency_ms").cast("double")).as("p95"))
        .select(
          col("service"),
          unix_timestamp(col("window.start")).as("window_start"),
          unix_timestamp(col("window.end")).as("window_end"),
          col("p95"))
        .as[P95Window]
  }

  /** Stage B: consecutive-breach detection (ST1). */
  def breaches(p95s: Dataset[P95Window],
               threshold: Double = BreachDetector.P95ThresholdMs,
               limit: Int = BreachDetector.BreachLimit): Dataset[IncidentAlert] =
    BreachDetector.detect(p95s, threshold, limit)

  /** Batch composition of both stages (streaming runs them as two queries). */
  def monitor(logs: DataFrame,
              threshold: Double = BreachDetector.P95ThresholdMs): Dataset[IncidentAlert] =
    breaches(p95Windows(logs), threshold)
}
