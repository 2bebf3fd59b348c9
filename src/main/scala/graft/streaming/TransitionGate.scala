package graft.streaming

/** The per-user frontier types of the incremental-maintenance arc's
  * streaming face. The one frontier gate is [[LateDlq.routedOf]]: its
  * `transition` lane emits each user's (src, dst) transitions — whose
  * fold is the directed census, q154's settled + delta + straddle
  * decomposition by construction — and its `late` lane banks arrivals
  * that fall behind the frontier. [[graft.tools.GateReplay]] and the
  * benchmark's gate probe feed it these events. */
object TransitionGate {

  /** (user_id, event_id, item, t) — the prepped item-event grain
    * ([[graft.ops.CensusDelta]]'s `prep`), t in epoch micros. */
  final case class ItemEvent(user_id: Long, event_id: Long, item: Long, t: Long)

  /** The frontier: the user's last item with its (t, event_id) — the
    * order key lateness is judged by. */
  final case class FrontierState(item: Long, t: Long, event_id: Long)
}
