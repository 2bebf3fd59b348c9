package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.oracle.{QueryDef, Tables}

/** q176 — late data INSIDE the rolling chain (r14 verdict Next #1): the
  * one production composition the maintenance arc had not proven.
  * q169/ChainProbe roll CLEAN time-cut deltas; q172/q173/q175 close the
  * late-data loop for ONE window. Production runs both at once, forever:
  * every day's arrivals pass the DLQ gate (kept lane in, late lane
  * banked), the rolled census advances on the KEPT lane alone, the
  * nightly drain lands the q175-style signed correction against the
  * census AS ALREADY ROLLED — and the next day's warm arms start from
  * the REPAIRED state, never a pristine one.
  *
  * Arrival model per cycle (the q172 model, day-scoped): within each
  * daily shard, events arrive in `bucket`-wide event_id shards and the
  * late cohort (event_id % lateMod == 0) is delayed `delay` shards, so
  * it arrives after its user's later same-day events advanced the
  * frontier. Days are time cuts, so no event is late relative to a
  * PRIOR day's frontier — lateness is judged inside its day, exactly
  * like the streaming gate whose frontier state spans days
  * ([[graft.streaming.LateDlq]]; its per-user frontier carries over and
  * the time cut guarantees day-k arrivals sort at-or-after it).
  *
  * Why the roll stays exact (the identity the oracle pins per cycle):
  *   - kept lane first: every kept day-k event sorts after every
  *     settled event under (t, event_id) (time cut), so
  *     census(settled ∪ kept) = census(settled) + census(kept) +
  *     straddle(frontier, kept) — q154's decomposition;
  *   - the frontier advances on the kept lane alone and still equals
  *     lastOf(settled ∪ drained ∪ kept): a late event never holds its
  *     user's (t, event_id) max — the max-t arrival of a user-day is by
  *     construction not late (nothing earlier out-t's it; the fixture
  *     tie contract, enforced in LateDlqSpec, removes equal-t cases);
  *   - the drain is [[LateRepair.correctionOf]] against everything
  *     settled AT DRAIN TIME (prior days incl. their drains + today's
  *     kept lane) — per-user additivity makes census + correction ==
  *     the monolithic census over all arrived events, and the NEXT
  *     cycle's roll starts from that repaired census (the invariant
  *     that makes the induction close).
  *
  * Output (one row per cycle): (cycle, pairs, w_sum, n_late, dw_abs) —
  * pairs/w_sum audit the REPAIRED rolled census, n_late the cycle's
  * drain size, dw_abs the drain's total signed-correction mass. The
  * oracle computes every cycle's census MONOLITHICALLY (full census at
  * the cut; pre-drain census = arrivals minus that day's late cohort)
  * — the hash match IS "rolled-with-drains == monolithic at every
  * cycle".
  *
  * Scale shape: ONE persisted corpus pass carries the day assignment
  * and the per-(user, day) arrival window (the only corpus-sized
  * window); each cycle's roll is census-grain with the q169
  * localCheckpoint posture (lineage rooted per cycle, driver analysis
  * O(1) per cycle); each drain is |late|-bounded with the q171
  * affected-user selective fetch. In production only one cycle's delta
  * work recurs — the loop here is the audit's scaffolding. */
object ChainDrains {

  /** Arrival shard width inside a day — small enough that every SF's
    * daily shards split into several arrival shards (sf0.001 carries
    * ~2k events/day; the q172 corpus-wide default of 1000 would leave
    * one shard per day and an empty late lane). */
  val Bucket = 100L

  /** The late cohort arrives this many shards after its natural slot. */
  val DelayBuckets = 3L

  /** Default chain: the fixture's last 3 daily cuts (q169's grid). */
  def defaultCuts: Seq[Long] = RollingRefresh.dailyCuts(3)

  /** The prepped item-event frame + (day, ab, late): day 0 is the
    * settled bootstrap (no arrival model, never late); day k ≥ 1 is the
    * k-th daily shard under the day-scoped q172 arrival model. */
  def routedByDay(events: DataFrame, tUs: Column, cuts: Seq[Long],
                  bucket: Long = Bucket, delay: Long = DelayBuckets,
                  lateMod: Long = LateRepair.LateMod): DataFrame = {
    require(cuts.nonEmpty && cuts == cuts.sorted, s"cuts must be ascending: $cuts")
    val day = cuts.zipWithIndex.foldLeft(lit(0)) { case (acc, (c, i)) =>
      when(col("t") >= c, lit(i + 1)).otherwise(acc)
    }
    CensusDelta.prep(events, tUs)
      .withColumn("day", day)
      .withColumn("ab", expr(s"event_id div $bucket") +
        when(col("event_id") % lateMod === 0, delay).otherwise(0L))
      .withColumn("late", col("day") > 0 && coalesce(
        max(col("t")).over(Window.partitionBy(col("user_id"), col("day"))
          .orderBy(col("ab")).rangeBetween(Window.unboundedPreceding, -1)) > col("t"),
        lit(false)))
  }

  private def ev(df: DataFrame): DataFrame =
    df.select(col("user_id"), col("event_id"), col("item"), col("t"))

  /** One rolled-with-drains cycle: (repaired census, correction,
    * late lane) per cut — the shared loop under the ledger, the drift
    * arm and the spec's per-cycle closure pin. `key` names the persisted
    * routed frame (`${key}_r`). */
  def chainCensusesOf(events: DataFrame, tUs: Column,
                      cuts: Seq[Long] = defaultCuts,
                      key: String = "q176",
                      bucket: Long = Bucket, delay: Long = DelayBuckets,
                      lateMod: Long = LateRepair.LateMod)
      : Seq[(Int, DataFrame, DataFrame, DataFrame)] = {
    val r = Tables.swapPersist(s"${key}_r",
      routedByDay(events, tUs, cuts, bucket, delay, lateMod))
    val s0 = ev(r.filter(col("day") === 0))
    var cs = PageRankDelta.directedCensusOf(s0).localCheckpoint()
    var f = Frontier.lastOf(s0).localCheckpoint()
    (1 to cuts.size).map { k =>
      val kept = ev(r.filter(col("day") === k && !col("late")))
      val lateK = ev(r.filter(col("day") === k && col("late")))
      // kept-lane roll: settled + kept + straddle (exact by the time cut)
      val mPre = PageRankDelta.mergedCensusOf(cs, f, kept)
      // nightly drain: correction against everything settled at drain
      // time — prior days (incl. their drains) + today's kept lane
      val settledPre = ev(r.filter(col("day") < k ||
        (col("day") === k && !col("late"))))
      val corr = LateRepair.correctionOf(settledPre, lateK)
        .localCheckpoint()
      val m = LateRepair.applyTo(mPre, corr)
        .filter(col("w") =!= 0)
        .select(col("src"), col("dst"), col("w"))
        .localCheckpoint()
      // the kept-lane frontier IS the settled-corpus frontier: a late
      // event never holds its user's (t, event_id) max (object doc)
      f = Frontier.advance(f, Frontier.lastOf(kept)).localCheckpoint()
      cs = m
      (k, m, corr, lateK)
    }
  }

  /** The q176 ledger — see object doc. */
  def chainDrainLedgerOf(events: DataFrame, tUs: Column,
                         cuts: Seq[Long] = defaultCuts): DataFrame =
    chainCensusesOf(events, tUs, cuts).map { case (k, m, corr, lateK) =>
      m.agg(count(lit(1)).as("pairs"), coalesce(sum(col("w")), lit(0L)).as("w_sum"))
        .crossJoin(broadcast(lateK.agg(count(lit(1)).as("n_late"))))
        .crossJoin(broadcast(
          corr.agg(coalesce(sum(abs(col("dw"))), lit(0L)).as("dw_abs"))))
        .select(lit(k).as("cycle"), col("pairs"), col("w_sum"),
          col("n_late"), col("dw_abs"))
    }.reduce(_ unionByName _)

  /** The q169/chainDriftOf drift audit with the arrival model ON: per
    * cycle the warm rank/spectral arms start from the REPAIRED census
    * (kept-lane roll + drain correction) and the fused cold arms
    * recompute from scratch over the same repaired census — so the
    * drift columns measure exactly what a production monitor running
    * above the DLQ loop would watch. Output matches
    * [[RollingRefresh.chainDriftOf]] plus the cycle's drain size:
    * (cycle, nodes, rank_l1, rank_max, v_nodes, v_l1, v_max, n_late).
    * ChainProbe drives this at sf0.1 behind SPARK_GRAFT_CHAIN_LATE=1
    * for the BASELINE.md drift-under-drains record. */
  def chainDriftWithDrainsOf(events: DataFrame, tUs: Column,
                             cuts: Seq[Long]): DataFrame = {
    var r: DataFrame = null
    var v: DataFrame = null
    val rows = chainCensusesOf(events, tUs, cuts, key = "chainld")
      .map { case (k, m, _, lateK) =>
        if (k == 1) {
          // day-0 priors fit on the PRE-CHAIN settled census: recompute
          // it here once (cheap census-grain readers feed the fits)
          val s0 = ev(Tables.persistedFrame("chainld_r").get
            .filter(col("day") === 0))
          val cs0 = PageRankDelta.directedCensusOf(s0).localCheckpoint()
          // r17 (guide §2.6): rank/spectral priors are independent given
          // the checkpointed census — overlap them (the q166 posture)
          val rv = graft.oracle.Par.par2(
            PageRankDelta.rankOf(cs0).localCheckpoint(),
            SpectralEmbed.spectralOf(
              WalkPmi.pmiOf(Backbone.backboneWeightedOf(DailyRefresh.pooled(cs0))
                .withColumnRenamed("w", "cnt"))).localCheckpoint())
          r = rv._1; v = rv._2
        }
        // per-cycle rank and spectral arms are independent — overlap them
        val (wcR, wcV) = graft.oracle.Par.par2(
          PageRankDelta.rankWarmColdOf(m, r).localCheckpoint(),
          SpectralDelta.spectralWarmColdOf(
            WalkPmi.pmiOf(Backbone.backboneWeightedOf(DailyRefresh.pooled(m))
              .withColumnRenamed("w", "cnt")),
            v, SpectralDelta.WarmRounds).localCheckpoint())
        val rd = wcR.agg(count(lit(1)).as("nodes"),
          sum(abs(col("rank_warm") - col("rank_cold"))).as("rank_l1"),
          max(abs(col("rank_warm") - col("rank_cold"))).as("rank_max"))
        val vd = wcV.agg(count(lit(1)).as("v_nodes"),
          sum(abs(col("v_warm") - col("v_cold"))).as("v_l1"),
          max(abs(col("v_warm") - col("v_cold"))).as("v_max"))
        val out = rd.crossJoin(vd)
          .crossJoin(broadcast(lateK.agg(count(lit(1)).as("n_late"))))
          .select(lit(k).as("cycle"), col("nodes"), col("rank_l1"),
            col("rank_max"), col("v_nodes"), col("v_l1"), col("v_max"),
            col("n_late"))
        r = wcR.select(col("item"), col("rank_warm").as("rank_micro"))
        v = wcV.select(col("node"), col("v_warm").as("vfp"))
        out
      }
    rows.reduce(_ unionByName _)
  }

  // ---------------------------------------------------------------- q176
  def q176(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    chainDrainLedgerOf(ev, Tables.tsMicros(ev))
  }

  /** Monolithic oracle: per cycle, the full census over everything
    * arrived by the cut and the pre-drain census (minus that day's late
    * cohort), both from scratch — pairs/w_sum off the former, dw_abs
    * off their full-join diff. Matching the rolled ledger hash-exactly
    * IS the N-cycle closure-under-drains identity. */
  private def q176Sql(cuts: Seq[Long] = defaultCuts,
                      bucket: Long = Bucket, delay: Long = DelayBuckets,
                      lateMod: Long = LateRepair.LateMod): String = {
    val dayCase = cuts.zipWithIndex.reverse
      .map { case (c, i) => s"WHEN t >= $c THEN ${i + 1}" }
      .mkString("CASE ", " ", " ELSE 0 END")
    def census(name: String, where: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         |  FROM (SELECT item AS dst,
         |               lag(item) OVER (PARTITION BY user_id ORDER BY t, event_id) AS src
         |        FROM r $where)
         |  WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2)""".stripMargin
    val cycles = (1 to cuts.size).map { k =>
      val hi = if (k < cuts.size) s"day <= $k" else "TRUE"
      val full = census(s"f$k", s"WHERE $hi")
      val pre = census(s"p$k", s"WHERE $hi AND NOT (day = $k AND late)")
      val row =
        s"""SELECT CAST($k AS INT) AS cycle,
           |  (SELECT CAST(count(*) AS BIGINT) FROM f$k) AS pairs,
           |  (SELECT CAST(COALESCE(sum(w), 0) AS BIGINT) FROM f$k) AS w_sum,
           |  (SELECT CAST(count(*) AS BIGINT) FROM r WHERE day = $k AND late) AS n_late,
           |  (SELECT CAST(COALESCE(sum(abs(COALESCE(f$k.w, 0) - COALESCE(p$k.w, 0))), 0) AS BIGINT)
           |   FROM f$k FULL JOIN p$k USING (src, dst)) AS dw_abs""".stripMargin
      (Seq(full, pre), row)
    }
    s"""WITH e AS (
       |  SELECT user_id, event_id,
       |         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item,
       |         epoch_us(ts) AS t
       |  FROM events
       |  WHERE TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
       |d0 AS (SELECT *, $dayCase AS day,
       |              event_id // $bucket +
       |              CASE WHEN event_id % $lateMod = 0 THEN $delay ELSE 0 END AS ab
       |       FROM e),
       |r AS MATERIALIZED (
       |  SELECT *, CASE WHEN day = 0 THEN FALSE ELSE COALESCE(
       |           max(t) OVER (PARTITION BY user_id, day ORDER BY ab
       |             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > t,
       |           FALSE) END AS late
       |  FROM d0),
       |${cycles.flatMap(_._1).mkString(",\n")}
       |${cycles.map(_._2).mkString("", "\nUNION ALL\n", "")}""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q176_chain_drains", q176, Some(q176Sql())))
}
