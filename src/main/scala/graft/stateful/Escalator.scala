package graft.stateful

import graft.model.{EscalationEvent, IncidentAlert}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** ST2 — count-to-N escalation with TTL
  * (flink/incident_aggregator.py:22-66): every alert increments a per-service
  * counter; at `limit` the alert is tagged severity=ESCALATED /
  * escalation_reason=MULTIPLE_INCIDENTS and the counter clears. ALL alerts
  * are forwarded, tagged or not (the unconditional yield at :64-66 — the
  * README claims otherwise; code wins, SURVEY §8.2).
  *
  * TTL parity (incident_aggregator.py:27-33): Flink's 1 h OnCreateAndWrite
  * TTL. The counter is stored with its expiry deadline (processing time of
  * the write + `ttlMs`), refreshed on every write; rows arriving after the
  * deadline count from 0. The deadline is absolute, so it holds across a
  * restart: a counter that expired while the query was down is not revived
  * by the restored checkpoint, as with Flink's full-snapshot cleanup. A
  * processing-time timeout only removes idle keys — Spark reports
  * `hasTimedOut` only for keys without input in the batch, so it cannot
  * enforce the TTL by itself.
  *
  * Determinism: a group's micro-batch slice is sorted by
  * (window_start, incident_id) before counting, so replays tag the same
  * alerts (the reference's arrival-order counting is nondeterministic under
  * Kafka repartitioning; SURVEY §7.5).
  */
object Escalator {

  val EscalationLimit = 3            // incident_aggregator.py:55
  val TtlMs: Long = 3600 * 1000L     // incident_aggregator.py:29

  /** The per-service counter and the processing time it expires at. */
  final case class EscalationState(count: Int, expiresAtMs: Long)

  /** Pure transition: (count before) → (count after, escalated?). */
  def step(count: Int, limit: Int): (Int, Boolean) = {
    val c = count + 1
    if (c >= limit) (0, true) else (c, false)
  }

  def tag(a: IncidentAlert, escalated: Boolean): EscalationEvent =
    if (escalated)
      EscalationEvent(a.incident_id, a.service, a.`type`, "ESCALATED",
        a.p95_latency, a.breach_count, a.window_start, a.window_end,
        a.error_rate, a.total_logs, Some("MULTIPLE_INCIDENTS"))
    else
      EscalationEvent(a.incident_id, a.service, a.`type`, a.severity,
        a.p95_latency, a.breach_count, a.window_start, a.window_end,
        a.error_rate, a.total_logs, None)

  /** `ttlMs = None` disables the processing-time TTL (deterministic tests;
    * also the right call when the caller replays bounded history where
    * wall-clock TTL is meaningless). Production wiring uses the default 1 h.
    *
    * NB with a processing-time timeout the micro-batch engine keeps
    * scheduling empty timeout-check batches, so `processAllAvailable` on a
    * test query never settles — TTL tests poll their sink instead. */
  def escalate(alerts: Dataset[IncidentAlert],
               limit: Int = EscalationLimit,
               ttlMs: Option[Long] = Some(TtlMs)): Dataset[EscalationEvent] = {
    import alerts.sparkSession.implicits._
    val timeoutConf =
      if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    alerts.groupByKey(_.service)
      .flatMapGroupsWithState(OutputMode.Update, timeoutConf) {
        (_: String, rows: Iterator[IncidentAlert], state: GroupState[EscalationState]) =>
          if (state.hasTimedOut) { // idle past the TTL: drop the key
            state.remove()
            Iterator.empty
          } else {
            val now = state.getCurrentProcessingTimeMs()
            var count = state.getOption.filter(now < _.expiresAtMs).fold(0)(_.count)
            val out = rows.toSeq.sortBy(a => (a.window_start, a.incident_id)).map { a =>
              val (c2, esc) = step(count, limit)
              count = c2
              tag(a, esc)
            }
            // refresh the TTL on every write (OnCreateAndWrite)
            state.update(EscalationState(count, ttlMs.fold(Long.MaxValue)(now + _)))
            ttlMs.foreach { t =>
              try state.setTimeoutDuration(t) catch { case _: UnsupportedOperationException => () }
            }
            out.iterator
          }
      }
  }
}
