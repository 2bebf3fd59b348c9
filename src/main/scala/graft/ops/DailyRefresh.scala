package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.oracle.{QueryDef, Tables}

/** q166 — the incremental-maintenance arc composed END-TO-END: the ONE
  * daily-refresh DAG a production deployment actually runs, instead of
  * the four audits that proved its stages separately. A delta shard
  * lands and a single job refreshes every derived artifact of the item
  * graph:
  *
  *   census update (q154's settled + delta + frontier-straddle proof,
  *   directed AND pooled grain off the same lag passes)
  *     → relative backbone (q150's top-decile cut, census-grain)
  *     → PMI re-weighting (q155, census-grain)
  *     → WARM spectral coordinates (q163's warm arm — yesterday's fixed
  *       point seeds [[SpectralDelta.WarmRounds]] rounds)
  *   and, off the SAME merged census,
  *     → WARM PageRank (q164's warm arm — yesterday's ranks seed
  *       [[PageRankDelta.WarmIters]] round(s))
  *
  * The composition is where the sharing lives (the q52/q61 composed-DAG
  * precedent): the four standalone audits each pay their own corpus
  * pass; the composed DAG pays ONE. The prepped item-event frame
  * persists once and feeds all four corpus-grain windows (settled lag,
  * delta lag, two frontier windows); the settled DIRECTED census is
  * computed once and serves the PageRank settled arm, the merged union,
  * AND — pooled by least/greatest rollup — the spectral settled arm
  * (the pooled census of q154/q163 is exactly the direction-summed
  * directed census, so one lag family serves both grains: additivity of
  * the rollup over the settled+delta+straddle decomposition). The
  * merged directed census likewise persists once for the PageRank warm
  * arm and the pooled spectral warm arm. DailyRefreshSpec pins every
  * output column ≡ its standalone query (the q61 reconciliation
  * discipline): v_settled/v_warm ≡ q163's, rank_settled/rank_warm ≡
  * q164's, at the shared [[SpectralDelta.DeltaCutUs]] cut.
  *
  * Only the WARM arms of the iterative operators run — the cold columns
  * exist in q163/q164 because those queries ARE the audits; production
  * recurs the warm path. The settled fixed points are recomputed
  * in-query here so the query is self-contained and oracle-expressible;
  * the artifact-read production variant (yesterday's vectors read from
  * parquet, not recomputed) is [[RefreshArtifacts]].
  *
  * Output: one row per merged DIRECTED census node —
  * (item, rank_settled, rank_warm, v_settled, v_warm); rank_settled is
  * NULL exactly on delta-introduced nodes, v_settled/v_warm are NULL off
  * the (backboned, positive-PMI) spectral node sets, which are strict
  * subsets of the census nodes.
  *
  * Int64/decimal bounds: inherited unchanged from q163 (spectral stack)
  * and q164 (rank stack) — the composition adds no arithmetic.
  *
  * Scale shape: ONE corpus-scale pass (the persisted item-event frame's
  * four window readers); everything downstream is census- or
  * vocab-grain. Each iterative round keeps its proven posture (q142:
  * node-keyed equi-join + map-side-combining sum + 1-row censuses
  * broadcast back, localCheckpoint per round); the warm arms' graph
  * frames checkpoint (the q164 display lesson). At 100 TB the four
  * standalone audits would read the corpus four times where this DAG
  * reads it once — the composition IS the optimization. */
object DailyRefresh {

  /** The pooled (q154/q163) grain as the direction-summed rollup of a
    * DIRECTED census — one lag family serves both grains (additivity of
    * the rollup over the settled+delta+straddle decomposition). Shared
    * with the artifact-read variant ([[RefreshArtifacts]]). */
  private[ops] def pooled(dir: DataFrame): DataFrame =
    dir.groupBy(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .agg(sum(col("w")).as("w"))

  /** (item, rank_settled, rank_warm, v_settled, v_warm) — see object
    * doc. */
  def dailyRefreshOf(events: DataFrame, tUs: Column,
                     cutUs: Long = SpectralDelta.DeltaCutUs): DataFrame = {
    val e = Tables.swapPersist("q166_e", CensusDelta.prep(events, tUs))
    val settled = e.filter(col("t") < cutUs)
    val delta = e.filter(col("t") >= cutUs)

    // the census update, DIRECTED grain: settled census (persisted — the
    // PageRank settled arm, the merged union and the pooled settled
    // rollup all read it), then + delta census + frontier straddle
    // r16: checkpoint, not keyed persist — lineage truncation (ppmiMatOf)
    val csDir = PageRankDelta.directedCensusOf(settled).localCheckpoint()
    // merged directed census (persisted — PageRank warm arm + pooled
    // spectral warm rollup)
    val mDir = PageRankDelta.mergedCensusOf(csDir, Frontier.lastOf(settled), delta)
      .localCheckpoint()

    // r17 (guide §2.6): the spectral chain (settled → warm) and the
    // PageRank chain (settled → warm) are independent given the two
    // checkpointed censuses above — each is an eager per-round
    // checkpoint sequence, so run one on a helper thread: the two
    // chains' per-job driver cost (JobProfile: 125 jobs, most of them
    // census-grain round actions) and their stage tails overlap.
    val ((vS, vW), (rS, rW)) = graft.oracle.Par.par2(
      {
        // spectral arm: backbone → PMI → warm iteration from the settled
        // fixed point (q163's warm semantics verbatim)
        val s = SpectralEmbed.spectralOf(
          WalkPmi.pmiOf(Backbone.backboneWeightedOf(pooled(csDir))
            .withColumnRenamed("w", "cnt"))).localCheckpoint()
        val w = SpectralEmbed.spectralWarmOf(
          WalkPmi.pmiOf(Backbone.backboneWeightedOf(pooled(mDir))
            .withColumnRenamed("w", "cnt")),
          s, SpectralDelta.WarmRounds)
        (s, w)
      },
      {
        // PageRank arm: settled ranks (two readers — warm r0 + output
        // column), then the warm-only refresh over the merged census
        val s = PageRankDelta.rankOf(csDir).localCheckpoint()
        val w = PageRankDelta.rankFrom(mDir, s)
        (s, w)
      })

    rW.select(col("item"), col("rank_micro").as("rank_warm"))
      .join(rS.select(col("item"), col("rank_micro").as("rank_settled")),
        Seq("item"), "left")
      .join(vS.select(col("node").as("item"), col("vfp").as("v_settled")),
        Seq("item"), "left")
      .join(vW.select(col("node").as("item"), col("vfp").as("v_warm")),
        Seq("item"), "left")
      .select(col("item"), col("rank_settled"), col("rank_warm"),
        col("v_settled"), col("v_warm"))
  }

  // ---------------------------------------------------------------- q166
  def q166(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    dailyRefreshOf(ev, Tables.tsMicros(ev))
  }

  /** `private[ops]`: q167's artifact-read variant produces the IDENTICAL
    * output frame (bit-exact — RefreshArtifactsSpec pins it), so it
    * reuses this oracle verbatim. */
  private[ops] def q166Sql(cutUs: Long = SpectralDelta.DeltaCutUs): String = {
    val R = SpectralEmbed.Rounds
    val WR = SpectralDelta.WarmRounds
    val I = PageRankDelta.Iters
    val WI = PageRankDelta.WarmIters
    val scale = SpectralEmbed.Scale
    s"""WITH e AS (
       |  SELECT user_id, event_id,
       |         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item,
       |         epoch_us(ts) AS t
       |  FROM events
       |  WHERE TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
       |s AS (SELECT * FROM e WHERE t < $cutUs),
       |d AS (SELECT * FROM e WHERE t >= $cutUs),
       |cs AS MATERIALIZED (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
       |  FROM (SELECT item AS dst,
       |               lag(item) OVER (PARTITION BY user_id ORDER BY t, event_id) AS src
       |        FROM s)
       |  WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
       |cd AS (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
       |  FROM (SELECT item AS dst,
       |               lag(item) OVER (PARTITION BY user_id ORDER BY t, event_id) AS src
       |        FROM d)
       |  WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
       |ls AS (SELECT user_id, item AS s_item FROM (
       |         SELECT user_id, item, row_number() OVER (
       |           PARTITION BY user_id ORDER BY t DESC, event_id DESC) AS rn
       |         FROM s) WHERE rn = 1),
       |fd AS (SELECT user_id, item AS d_item FROM (
       |         SELECT user_id, item, row_number() OVER (
       |           PARTITION BY user_id ORDER BY t, event_id) AS rn
       |         FROM d) WHERE rn = 1),
       |cb AS (SELECT s_item AS src, d_item AS dst, CAST(count(*) AS BIGINT) AS w
       |       FROM ls JOIN fd USING (user_id) WHERE s_item <> d_item
       |       GROUP BY 1, 2),
       |em AS MATERIALIZED (
       |  SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
       |    SELECT * FROM cs UNION ALL SELECT * FROM cd UNION ALL SELECT * FROM cb)
       |  GROUP BY 1, 2),
       |pcs AS MATERIALIZED (
       |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
       |         CAST(sum(w) AS BIGINT) AS w
       |  FROM cs GROUP BY 1, 2),
       |pm AS MATERIALIZED (
       |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
       |         CAST(sum(w) AS BIGINT) AS w
       |  FROM em GROUP BY 1, 2),
       |${SpectralDelta.backboneCtesOver("pcs", "s_")},
       |${SpectralDelta.pmiCtesOver("s_bb", "s_")},
       |${SpectralDelta.matCtesOver("s_")},
       |s_v0 AS MATERIALIZED (
       |  SELECT i AS node, CAST($scale AS BIGINT) AS v FROM s_nodes),
       |${SpectralDelta.roundCtesOver("s_", "s_mat", R)},
       |${SpectralDelta.backboneCtesOver("pm", "m_")},
       |${SpectralDelta.pmiCtesOver("m_bb", "m_")},
       |${SpectralDelta.matCtesOver("m_")},
       |w_v0 AS MATERIALIZED (
       |  SELECT n.i AS node, CAST(coalesce(sv.v, $scale) AS BIGINT) AS v
       |  FROM m_nodes n LEFT JOIN s_v$R sv ON n.i = sv.node),
       |${SpectralDelta.roundCtesOver("w_", "m_mat", WR)},
       |${PageRankDelta.stackCtes("cs", "sr_")},
       |sr_r0 AS (SELECT item, CAST(1000000 AS BIGINT) AS rank_micro FROM sr_nodes),
       |${PageRankDelta.roundCtes("sr_", "sr_", I)},
       |${PageRankDelta.stackCtes("em", "mr_")},
       |wr_r0 AS (SELECT n.item, CAST(COALESCE(sr.rank_micro, 1000000) AS BIGINT) AS rank_micro
       |          FROM mr_nodes n LEFT JOIN sr_r$I sr ON n.item = sr.item),
       |${PageRankDelta.roundCtes("mr_", "wr_", WI)}
       |SELECT r.item, sr.rank_micro AS rank_settled, r.rank_micro AS rank_warm,
       |       sv.v AS v_settled, wv.v AS v_warm
       |FROM wr_r$WI r
       |LEFT JOIN sr_r$I sr ON r.item = sr.item
       |LEFT JOIN s_v$R sv ON r.item = sv.node
       |LEFT JOIN w_v$WR wv ON r.item = wv.node""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q166_daily_refresh", q166, Some(q166Sql())))
}
