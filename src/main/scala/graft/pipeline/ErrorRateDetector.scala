package graft.pipeline

import graft.io.Codec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage 1a — sliding-window error-rate spike detector
  * (flink/error_rate_detector.py re-expressed Spark-first).
  *
  * Two branches count the windows; one projection turns counts into alerts.
  *  - Batch: the declarative `groupBy(service, window(...))`, which Catalyst
  *    plans as a partial + final hash aggregation. It is the reference the
  *    streaming branch is checked against.
  *  - Streaming: [[ServiceWindows]], keyed by `service` as in the reference
  *    (error_rate_detector.py:141). A window closes in the micro-batch that
  *    carries its service's closing event (max event time − the 5 s delay
  *    ≥ end), not one trigger later as Spark's append-mode aggregation does;
  *    an idle service's windows close when the query watermark passes them.
  *    The state is one row per service holding its ≤ 3 open windows'
  *    {total, errors} counts — the reference's incremental `ErrorRateAgg`
  *    (error_rate_detector.py:40-68). Scale posture: the key has the
  *    reference's 4 values, so the stateful stage runs on at most 4 tasks,
  *    and each (row, window) pair is shuffled with no map-side partial
  *    aggregation — a few thousand pairs a batch at the reference's rates.
  *  - Shared: threshold filter, `round(…, 4)`, `Codec.incidentId` and the
  *    column order.
  */
object ErrorRateDetector {

  val WindowSize = "20 seconds"   // error_rate_detector.py:163
  val Slide = "10 seconds"
  val Watermark = "5 seconds"     // error_rate_detector.py:136-138
  val MinVolume = 100L            // error_rate_detector.py:89
  val Threshold = 0.02            // error_rate_detector.py:93

  /** The streaming branch's per-window accumulator. */
  final case class Counts(total: Long, errors: Long)

  /** ISO-8601 string → event_time (P6). Malformed rows get NULL and fall
    * out of event-time windows (SURVEY §1.5 decision: drop, don't
    * epoch-0-sentinel like the reference's :25-37). */
  def withEventTime(logs: DataFrame): DataFrame =
    logs.withColumn("event_time", to_timestamp(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss"))

  /** Detect spikes. `logs` must carry (service, level, event_time). */
  def detect(logs: DataFrame,
             windowSize: String = WindowSize, slide: String = Slide,
             watermark: String = Watermark,
             minVolume: Long = MinVolume, threshold: Double = Threshold): DataFrame = {
    val isError = col("level") === "ERROR"
    val counts =
      if (logs.isStreaming)
        ServiceWindows(logs, windowSize, slide, watermark, when(isError, 1).otherwise(0))(
            Counts(0L, 0L))((c, vs) => Counts(c.total + vs.size, c.errors + vs.count(_ > 0)))
          .select(col("service"),
            timestamp_micros(col("start")).as("window_start"), timestamp_micros(col("end")).as("window_end"),
            col("acc.total").as("total_logs"), col("acc.errors").as("errors"))
      else
        logs.groupBy(col("service"), window(col("event_time"), windowSize, slide))
          .agg(count(lit(1)).as("total_logs"), count(when(isError, 1)).as("errors"))
          .select(col("service"), col("window.start").as("window_start"), col("window.end").as("window_end"),
            col("total_logs"), col("errors"))
    alerts(counts, minVolume, threshold)
  }

  /** Window counts (service, window_start, window_end, total_logs, errors)
    * → alert rows. */
  private def alerts(counts: DataFrame, minVolume: Long, threshold: Double): DataFrame =
    counts
      .withColumn("error_rate", round(col("errors") / col("total_logs"), 4))
      .filter(col("total_logs") >= minVolume && col("error_rate") >= threshold)
      .select(
        Codec.incidentId(col("service"), unix_timestamp(col("window_start")), lit("ERS")).as("incident_id"),
        col("service"),
        lit("ERROR_RATE_SPIKE").as("type"),
        lit("HIGH").as("severity"),
        lit(null).cast("int").as("p95_latency"),
        lit(null).cast("int").as("breach_count"),
        unix_timestamp(col("window_start")).as("window_start"),
        unix_timestamp(col("window_end")).as("window_end"),
        col("error_rate"),
        col("total_logs"))

  /** Full stage: raw JSON `value` stream → alert rows (P1 → W1/A1 → P7/P8). */
  def fromRawJson(raw: DataFrame): DataFrame =
    detect(withEventTime(Codec.decodeRawLogs(raw)))
}
