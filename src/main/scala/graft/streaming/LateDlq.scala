package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

import graft.streaming.TransitionGate.{FrontierState, ItemEvent}

/** The DLQ (dead-letter queue) gate — the streaming half of the q172/q173
  * late-data loop (batch mirror: [[graft.ops.DlqRoute]]). The r13 verdict
  * flagged the gap this closes: W7's watermark semantics DROP late events
  * and q171's batch repair consumes a late shard, but nothing connected
  * the two. This gate is the connection: instead of dropping, each
  * arriving event is judged against its user's frontier (one
  * [[TransitionGate.FrontierState]] row per user, transformWithState
  * state) —
  *
  *   - at-or-after the frontier under (t, event_id): KEPT — emit its
  *     (frontier item → item) transition and advance the frontier. The
  *     first event of a user opens the chain silently; a self-loop
  *     advances the frontier but is not emitted (the lag-chain semantics
  *     of [[graft.ops.PageRankDelta.directedCensusOf]]), so the folded
  *     transition lane IS the directed census (TransitionGateSpec);
  *   - strictly BEFORE the frontier: LATE — emit the event itself on the
  *     DLQ lane, untouched; the frontier does NOT move and no (wrong)
  *     transition is emitted. A late event spliced naively would emit
  *     frontier→late — a transition the repaired census must NOT contain
  *     (inserting x between settled a→b means +a→x +x→b −a→b, q171's
  *     split case — only the batch repair can do that subtraction).
  *
  * The closing identity (LateDlqSpec, on the real corpus, restart
  * included): fold(kept lane) + [[graft.ops.LateRepair.correctionOf]]
  * (kept events, DLQ lane) == the monolithic directed census. So the
  * production loop is: the gate maintains the census continuously and
  * banks late arrivals; the nightly repair job drains the DLQ, fetches
  * ONLY the affected users' history, and lands the signed correction —
  * no corpus-sized work anywhere in the loop.
  *
  * Per-user lateness IS the right watermark grain here: the census is a
  * per-user lag, so an event is "too late to append" exactly when ITS
  * USER's chain has moved past it — a global watermark would both
  * over-drop (slow users) and under-drop (fast users).
  *
  * Scale shape: one FrontierState row per user (RocksDB-capable), each
  * micro-batch shuffles only itself on user_id, per-key transient memory
  * bounded by the trigger's batch sizing. Within a batch rows process in
  * (t, event_id) order, so intra-batch disorder never lands in the DLQ
  * (Spark's own watermark contract); lateness is judged across batches
  * only. */
object LateDlq {

  /** One routed output row. `kind` ∈ {"transition", "late"}:
    * transitions carry (src, dst, t); late rows carry the full original
    * event (event_id, item, t) so the DLQ lane IS the repair's input
    * shard. Unused fields are 0 under the other kind. */
  final case class Routed(kind: String, user_id: Long, event_id: Long,
                          item: Long, t: Long, src: Long, dst: Long)

  class DlqProcessor extends StatefulProcessor[Long, ItemEvent, Routed] {
    @transient private var frontier: ValueState[FrontierState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      frontier = getHandle.getValueState[FrontierState](
        "frontier", Encoders.product[FrontierState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[ItemEvent],
                                 timers: TimerValues): Iterator[Routed] = {
      var st = Option(frontier.get())
      val out = List.newBuilder[Routed]
      rows.toSeq.sortBy(e => (e.t, e.event_id)).foreach { e =>
        st match {
          case Some(f) if f.t > e.t || (f.t == e.t && f.event_id > e.event_id) =>
            // strictly before the frontier: DLQ lane, state untouched
            out += Routed("late", key, e.event_id, e.item, e.t, 0L, 0L)
          case Some(f) =>
            if (f.item != e.item)
              out += Routed("transition", key, 0L, e.item, e.t, f.item, e.item)
            st = Some(FrontierState(e.item, e.t, e.event_id))
          case None =>
            st = Some(FrontierState(e.item, e.t, e.event_id))
        }
      }
      st.foreach(frontier.update)
      out.result().iterator
    }
  }

  /** The gate: item events → (transition lane ∪ DLQ lane), per-user
    * frontier checkpointed as streaming state. */
  def routedOf(events: Dataset[ItemEvent]): Dataset[Routed] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new DlqProcessor, TimeMode.None(), OutputMode.Update())
  }
}
