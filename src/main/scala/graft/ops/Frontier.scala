package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The user-grain frontier join shared by the incremental-maintenance
  * family (q154 census, q163 spectral, q164 PageRank): per user, the
  * LAST settled item and the FIRST delta item — the single row of state
  * that makes the straddle transition computable without ever lagging
  * settled events (exactly what a streaming job checkpoints). Frontier
  * rows are row_number() over (t, event_id) — unique per user on both
  * engines (no max_by/arg_max tie-semantics risk; the q154 contract).
  * q154/q163 pool the straddle census with least/greatest; every
  * directed caller shapes it through [[PageRankDelta.mergedCensusOf]]. */
object Frontier {

  /** (user_id, s_item): each user's LAST settled item — THE frontier
    * artifact a production refresh checkpoints ([[RefreshArtifacts]]
    * persists exactly this frame; the streaming gate keeps it as
    * per-user state). Input is a (user_id, event_id, item, t) slice. */
  def lastOf(settled: DataFrame): DataFrame = settled
    .withColumn("rn", row_number().over(Window.partitionBy(col("user_id"))
      .orderBy(col("t").desc, col("event_id").desc)))
    .filter(col("rn") === 1).select(col("user_id"), col("item").as("s_item"))

  /** (user_id, d_item): each user's FIRST delta item. */
  def firstOf(delta: DataFrame): DataFrame = delta
    .withColumn("rn", row_number().over(Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))))
    .filter(col("rn") === 1).select(col("user_id"), col("item").as("d_item"))

  /** (user_id, s_item, d_item) for every user present on BOTH sides of
    * the cut; inputs are (user_id, event_id, item, t) slices. */
  def straddleOf(settled: DataFrame, delta: DataFrame): DataFrame =
    lastOf(settled).join(firstOf(delta), Seq("user_id"))

  /** [[straddleOf]] with the settled side read from a CHECKPOINTED
    * frontier — the artifact-read production path: the settled corpus is
    * never scanned, only the (user_id, s_item) state joins the delta's
    * first items. Bit-identical to [[straddleOf]] by construction
    * (shared [[firstOf]]; [[lastOf]] is what wrote the artifact). */
  def straddleFrom(frontier: DataFrame, delta: DataFrame): DataFrame =
    frontier.select(col("user_id"), col("s_item"))
      .join(firstOf(delta), Seq("user_id"))

  /** The frontier COMPACTION identity: tomorrow's frontier from today's
    * frontier and the delta ALONE — full-outer upsert, the delta's last
    * item winning where a user appears on both sides. Exactly
    * `lastOf(settled ∪ delta)` (a user's last item up to the new cut is
    * their delta last item if they have one, else their settled last) —
    * pinned in RollingRefreshSpec — so the daily loop never needs the
    * settled corpus to roll its state forward (q169).
    *
    * PRECONDITION: every delta event sorts strictly AFTER its user's
    * settled events under (t, event_id) — true by construction for the
    * time-cut shards this compaction serves (q169's `t >= cut` slices)
    * and for the daily-shard arrival model, but NOT for a late shard
    * (the q171/q172 DLQ input): a late event there would win the upsert
    * despite predating the frontier, yielding a wrong s_item. Late
    * shards must go through [[advanceByTime]] (which compares the
    * carried (t, event_id)) or the LateRepair path, never this upsert. */
  def advance(frontier: DataFrame, deltaLast: DataFrame): DataFrame =
    frontier.select(col("user_id"), col("s_item").as("old_item"))
      .join(deltaLast.select(col("user_id"), col("s_item").as("new_item")),
        Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("new_item"), col("old_item")).as("s_item"))

  /** [[lastOf]] keeping the winning row's (t, event_id) — the
    * time-carrying frontier [[advanceByTime]] needs (and exactly the
    * state shape the streaming gate's FrontierState keeps). */
  def lastFullOf(slice: DataFrame): DataFrame = slice
    .withColumn("rn", row_number().over(Window.partitionBy(col("user_id"))
      .orderBy(col("t").desc, col("event_id").desc)))
    .filter(col("rn") === 1)
    .select(col("user_id"), col("item").as("s_item"), col("t"), col("event_id"))

  /** [[advance]] WITHOUT the post-cut precondition: both sides carry
    * (t, event_id) (the [[lastFullOf]] shape) and the upsert keeps
    * whichever row sorts later — so a delta containing late events
    * (events that predate a user's frontier) still yields
    * `lastFullOf(settled ∪ delta)` exactly. This is the streaming gate's
    * FrontierState comparison as a batch join; RollingRefreshSpec pins
    * the identity on a late-bearing delta where [[advance]] would be
    * wrong. */
  def advanceByTime(frontier: DataFrame, deltaLast: DataFrame): DataFrame = {
    val f = frontier.select(col("user_id"), col("s_item").as("o_item"),
      col("t").as("o_t"), col("event_id").as("o_eid"))
    val d = deltaLast.select(col("user_id"), col("s_item").as("n_item"),
      col("t").as("n_t"), col("event_id").as("n_eid"))
    val newWins = col("o_item").isNull || (col("n_item").isNotNull &&
      (col("n_t") > col("o_t") ||
        (col("n_t") === col("o_t") && col("n_eid") > col("o_eid"))))
    f.join(d, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        when(newWins, col("n_item")).otherwise(col("o_item")).as("s_item"),
        when(newWins, col("n_t")).otherwise(col("o_t")).as("t"),
        when(newWins, col("n_eid")).otherwise(col("o_eid")).as("event_id"))
  }
}
