package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.oracle.{QueryDef, Tables}

/** q171 — late-data census repair: the maintenance loop's
  * FAULT-TOLERANCE face. q154–q170 assume shards arrive in order; real
  * pipelines get events that belong INSIDE the settled window
  * (out-of-order beyond any watermark — the DLQ gate
  * [[graft.streaming.LateDlq]] routes them to a side lane at ingest,
  * and q172/q173 + LateDlqSpec close the loop: that lane is exactly
  * this repair's `late` input). A late event is not
  * additive: inserted between two settled events it SPLITS an existing
  * transition (user chain a→b with x landing between becomes a→x→b:
  * +1 a→x, +1 x→b, **−1 a→b**) — the case naive "append the new
  * transitions" maintenance silently gets wrong, and why the correction
  * census is SIGNED.
  *
  * The production path (never re-lagging the settled corpus): the late
  * shard names its AFFECTED USERS (|au| ≪ |users| — lateness is
  * scattered and rare); fetch exactly those users' settled events (a
  * user-keyed selective join against the standing corpus — the q168
  * candidate-fetch pattern), re-lag THEIR history with the late events
  * spliced in, and diff: correction = census(affected, with late) −
  * census(affected, settled-only), signed. The repaired corpus census
  * is then settled census + correction — additivity over users makes
  * this EXACT (each user's transitions depend on their events alone),
  * pinned in LateRepairSpec against the monolithic recompute and on a
  * hand fixture exercising the split case.
  *
  * Late model on the fixture: `event_id % [[LateMod]] == 0` (~2%,
  * scattered across the whole time range because ids interleave with
  * time — the out-of-order-everywhere reality, deliberately NOT a time
  * slice). Deterministic and engine-mirrorable.
  *
  * Output: one row per (src, dst) of the repaired census ∪ the removed
  * pairs — (src, dst, w, dw): w = repaired weight (0 when the repair
  * deleted the pair), dw = the signed correction (0 for untouched
  * pairs). The oracle computes the same frame monolithically (full
  * census ⟗ settled census), so the hash match IS the repair identity.
  *
  * Scale shape: ONE corpus pass for the settled census (the standing
  * artifact — in production it's read, not built; the q167 face), one
  * |late|-bounded shard scan, one user-keyed selective fetch of
  * affected histories (AQE broadcasts the ≤|au| user list), lag windows
  * only over affected users' events, and census-grain diffs. Nothing
  * corpus-sized depends on the late shard. */
object LateRepair {

  /** ~2% of events arrive late (scattered by id ↔ time interleaving). */
  val LateMod = 47L

  /** The SIGNED correction census alone — the reusable half the q172/q173
    * DLQ loop composes with the streaming gate's census: from the settled
    * item-event slice and a late shard (both at [[CensusDelta]]'s prep
    * grain), fetch ONLY the affected users' settled history, re-lag it
    * with the late events spliced in, and diff. Output (src, dst, dw),
    * dw ≠ 0. */
  def correctionOf(settled: DataFrame, late: DataFrame): DataFrame = {
    // affected users' settled history — the ONLY settled rows the
    // repair touches; two readers (old census + spliced census)
    val au = late.select(col("user_id")).distinct()
    // r16: checkpoint, not keyed persist — |affected-users|-bounded, and
    // the truncation keeps the two census lags planning against a flat
    // RDD (see SpectralEmbed.ppmiMatOf)
    val eAu = settled.join(au, Seq("user_id")).localCheckpoint()

    val oldAu = PageRankDelta.directedCensusOf(eAu)
    val newAu = PageRankDelta.directedCensusOf(eAu.unionByName(late))
    newAu.withColumnRenamed("w", "wn")
      .join(oldAu.withColumnRenamed("w", "wo"), Seq("src", "dst"), "full_outer")
      .select(col("src"), col("dst"),
        (coalesce(col("wn"), lit(0L)) - coalesce(col("wo"), lit(0L))).as("dw"))
      .filter(col("dw") =!= 0)
  }

  /** Apply a signed correction to a standing census → (src, dst, w, dw):
    * w = repaired weight (0 where the repair deleted the pair), dw = the
    * signed correction (0 for untouched pairs). Census-grain full-outer
    * join — nothing corpus-sized. */
  def applyTo(census: DataFrame, corr: DataFrame): DataFrame =
    census.join(corr, Seq("src", "dst"), "full_outer")
      .select(col("src"), col("dst"),
        (coalesce(col("w"), lit(0L)) + coalesce(col("dw"), lit(0L))).as("w"),
        coalesce(col("dw"), lit(0L)).as("dw"))

  /** (src, dst, w, dw) — see object doc. */
  def lateRepairOf(events: DataFrame, tUs: Column,
                   lateMod: Long = LateMod): DataFrame = {
    // three readers: the settled census lag, the affected-user fetch,
    // the late shard itself
    val e = Tables.swapPersist("q171_e", CensusDelta.prep(events, tUs))
    val late = e.filter(col("event_id") % lateMod === 0)
    val settled = e.filter(col("event_id") % lateMod =!= 0)

    // the standing settled census (production reads this as an artifact)
    val cs = PageRankDelta.directedCensusOf(settled)
    applyTo(cs, correctionOf(settled, late))
  }

  // ---------------------------------------------------------------- q171
  def q171(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    lateRepairOf(ev, Tables.tsMicros(ev))
  }

  /** Oracle: the full and settled-only censuses joined monolithically —
    * w = the full weight (what the repair must reproduce), dw = full −
    * settled. Matching this frame hash-exactly IS the repair identity. */
  private def q171Sql(lateMod: Long = LateMod): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id,
       |         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item,
       |         epoch_us(ts) AS t
       |  FROM events
       |  WHERE TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
       |cf AS (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
       |  FROM (SELECT item AS dst,
       |               lag(item) OVER (PARTITION BY user_id ORDER BY t, event_id) AS src
       |        FROM e)
       |  WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
       |cs AS (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
       |  FROM (SELECT item AS dst,
       |               lag(item) OVER (PARTITION BY user_id ORDER BY t, event_id) AS src
       |        FROM e WHERE event_id % $lateMod <> 0)
       |  WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2)
       |SELECT coalesce(cf.src, cs.src) AS src,
       |       coalesce(cf.dst, cs.dst) AS dst,
       |       coalesce(cf.w, 0) AS w,
       |       coalesce(cf.w, 0) - coalesce(cs.w, 0) AS dw
       |FROM cf FULL JOIN cs ON cf.src = cs.src AND cf.dst = cs.dst""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q171_late_repair", q171, Some(q171Sql())))
}
