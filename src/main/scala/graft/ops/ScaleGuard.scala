package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Size gates for the iterative loops' FORCED broadcasts and
  * single-partition global-window folds (r16 verdict "What's wrong"
  * #2/#3, guide §3.1 "pick the join strategy deliberately").
  *
  * The r16 sweep broadcast the node-grain vector into every
  * power-iteration/PageRank/CC round — correct and fast while the node
  * table is vocab-bounded (~10⁶ rows), but an unconditional
  * `broadcast()` hint ignores `autoBroadcastJoinThreshold` entirely, so
  * at a 10⁸–10⁹-node catalog the plan OOMs the driver/executors (or
  * hits the 8 GB broadcast hard cap) instead of degrading to the
  * shuffle join. Same for `Window.partitionBy()` max/sum folds: they
  * move the whole node-grain aggregate through ONE task.
  *
  * The gate measures the frame it guards WITHOUT an extra job: every
  * guarded frame is already materialized (`localCheckpoint`/`cache` —
  * the loops checkpoint their inter-round state anyway), so its
  * in-memory/on-disk block bytes are in the block-manager master, which
  * holds them before the materializing job returns.
  * Census frames derived from a measured frame at the same-or-smaller
  * grain (per-round contrib/nbrMin tables: ≤ one row per node) inherit
  * the measured frame's verdict — pass the measured frame as
  * `measuredFrom`.
  *
  * Failure direction: an UNMEASURABLE frame broadcasts (the pre-guard
  * behavior) — the block lookup only fails if the frame is not
  * actually materialized, which the loops guarantee; ScaleGuardSpec
  * pins that the lookup works on a checkpointed frame and that the
  * fallback engages under a lowered cap. */
object ScaleGuard {

  /** Conf key for the broadcast/global-fold byte cap — runtime-settable
    * (`spark.conf.set`), so deployments size it to executor memory and
    * tests can force the fallback arm. */
  val MaxBytesKey = "spark.graft.broadcast.maxBytes"

  /** Default cap: 512 MB of materialized (deserialized) block bytes —
    * comfortably inside the guide's "a few hundred MB is usually fine"
    * band and far under the 8 GB broadcast hard cap; the HashedRelation
    * built from a frame is the same order as its deserialized blocks. */
  val DefaultMaxBytes: Long = 512L << 20

  def maxBytes(df: DataFrame): Long =
    df.sparkSession.conf.getOption(MaxBytesKey).map(_.toLong)
      .getOrElse(DefaultMaxBytes)

  /** Materialized block bytes of a checkpointed/cached frame, from the
    * block-manager master ([[org.apache.spark.graft.BlockSizes]]) — ZERO
    * jobs, and current as soon as the checkpoint returns. A plan over
    * several materialized RDDs (a join of two checkpointed frames)
    * measures as its LARGEST one, so the gate sees the frame that could
    * overflow it, not whichever comes first in the plan. None when no RDD
    * under the plan is materialized (not checkpointed, or blocks already
    * evicted). */
  def materializedBytes(df: DataFrame): Option[Long] = {
    val rddIds = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    val viaCheckpoint = org.apache.spark.graft.BlockSizes
      .rddBytes(df.sparkSession.sparkContext, rddIds).values.maxOption
    // cached (InMemoryRelation) frames: once the column buffers are
    // materialized the relation's stats carry the REAL cached bytes
    viaCheckpoint.orElse {
      df.queryExecution.withCachedData.collect {
        case im: org.apache.spark.sql.execution.columnar.InMemoryRelation
            if im.cacheBuilder.isCachedColumnBuffersLoaded =>
          im.stats.sizeInBytes.toLong
      }.maxOption
    }
  }

  /** Does the node-grain frame fit the broadcast/global-fold budget?
    * Unmeasurable ⇒ true (pre-guard behavior; see scaladoc). A cap ≤ 0
    * forces the fallback everywhere (the test hook). */
  def fits(measuredFrom: DataFrame): Boolean = {
    val cap = maxBytes(measuredFrom)
    if (cap <= 0L) false
    else materializedBytes(measuredFrom).forall(_ <= cap)
  }

  /** `broadcast(df)` when `measuredFrom` (a materialized frame bounding
    * `df`'s grain) fits the cap; `df` un-hinted otherwise — the plan
    * degrades to the shuffle join instead of a forced OOM. */
  def gatedBroadcast(df: DataFrame, measuredFrom: DataFrame): DataFrame =
    if (fits(measuredFrom)) broadcast(df) else df

  /** Self-measuring form: the frame IS the materialized one. */
  def gatedBroadcast(df: DataFrame): DataFrame = gatedBroadcast(df, df)
}
