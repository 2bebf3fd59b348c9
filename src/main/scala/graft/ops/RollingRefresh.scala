package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.oracle.{QueryDef, Tables}

/** q169 — the rolling refresh: TWO consecutive daily cycles, proving
  * the maintenance loop is CLOSED under iteration. q166/q167 proved one
  * day's refresh consumes yesterday's derived state; production runs
  * the loop forever, which requires that each refresh also PRODUCE
  * tomorrow's state from today's state + the delta alone — never from
  * the settled corpus. This query runs day 1 and day 2 end-to-end and
  * audits exactly the two properties that make the loop sound:
  *
  *   - **State closure (exact).** The compacted census after day 1 IS
  *     day 1's merged census (additivity — nothing to recompute), and
  *     the compacted frontier is [[Frontier.advance]] — a full-outer
  *     upsert of the delta's last items over the old frontier, equal to
  *     re-deriving `lastOf` from scratch (RollingRefreshSpec pins both
  *     identities on the fixture; the census closure is q154's identity
  *     applied at the second cut with a frontier that was itself rolled
  *     forward, so it fails if EITHER day's decomposition or the
  *     upsert is wrong).
  *   - **Prior quality under chaining (measured).** Day 2 warm-starts
  *     from day 1's WARM output — an approximate prior, not a settled
  *     fixed point (q163/q164 always warmed from exact priors). The
  *     fused warm/cold arms over the full-corpus census measure whether
  *     chained-warm drift accumulates: BASELINE.md records the drift of
  *     the twice-chained prior next to the single-step drift at the
  *     same final corpus.
  *
  * Semantics: cuts c1 = [[SpectralDelta.DeltaCutUs]] (Jan 29) and
  * c2 = [[Day2CutUs]] (Jan 30) split the 30-day fixture into settled +
  * two daily shards. Day 0 state (census, frontier, ranks, coordinates
  * at c1) is recomputed in-query so the query is self-contained and
  * oracle-expressible (the q166 discipline; the artifact I/O face is
  * q167/q168's, already proven). All census/PMI/backbone/iteration
  * arithmetic is inherited verbatim — the oracle chains the SAME CTE
  * generators three stacks deep.
  *
  * Output: one row per full-census node — (item, rank_warm, rank_cold,
  * rank_drift, v_warm, v_cold, v_drift); v columns NULL off the
  * backboned-PPMI node set of the full census (warm and cold spectral
  * arms share that node set, so v_drift is NULL exactly where both are).
  *
  * Scale shape: ONE corpus pass (the persisted item-event frame feeds
  * the three slices' lags and frontier windows); censuses persist once
  * per reader set; every iterative round keeps the proven q142 posture;
  * the fused day-2 arms ride [[SpectralDelta.spectralWarmColdOf]] /
  * [[PageRankDelta.rankWarmColdOf]]. In production only day 2's
  * delta-grain work and WARM arms recur — everything else here is the
  * audit's scaffolding. */
object RollingRefresh {

  /** Day-2 cut: 2024-01-30 00:00 UTC — one day after
    * [[SpectralDelta.DeltaCutUs]], so each shard is a real daily slice
    * of the 30-day fixture. */
  val Day2CutUs: Long = SpectralDelta.DeltaCutUs + 86400000000L

  /** The rolled census chain. The three censuses localCheckpoint rather
    * than persist: q169 has the deepest logical lineage in the repo
    * (three chained stacks), and a keyed persist keeps the LOGICAL plan
    * nested — every downstream eager job (each iteration round's
    * checkpoint) re-analyzes the whole chain on the driver, measured at
    * ~5-6 s PER JOB at sf0.1 (vs ~1 s in q163, whose lineage is one
    * stack deep) — ~53 s for the query. Checkpointing roots each census
    * at an RDD scan, collapsing per-job analysis back to the q163 cost;
    * the frames are census-grain, so the extra materialization is
    * nothing. */
  private def rolled(events: DataFrame, tUs: Column, c1: Long, c2: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val e = Tables.swapPersist("q169_e", CensusDelta.prep(events, tUs))
    val s = e.filter(col("t") < c1)
    val d1 = e.filter(col("t") >= c1 && col("t") < c2)
    val d2 = e.filter(col("t") >= c2)

    val cs0 = PageRankDelta.directedCensusOf(s).localCheckpoint()
    val f0 = Frontier.lastOf(s).localCheckpoint() // 2 readers: cb1 + advance
    val m1 = PageRankDelta.mergedCensusOf(cs0, f0, d1).localCheckpoint()
    // compaction: tomorrow's state from today's state + d1 ALONE —
    // census closure (m1 IS the new settled census) and the frontier
    // upsert ([[Frontier.advance]]); the settled corpus is not touched
    val f1 = Frontier.advance(f0, Frontier.lastOf(d1))
    val m2 = PageRankDelta.mergedCensusOf(m1, f1, d2).localCheckpoint()
    (cs0, m1, m2)
  }

  /** The twice-rolled full census — RollingRefreshSpec pins it equal to
    * the monolithic [[PageRankDelta.fullDirectedCensusOf]] (the closure
    * identity: it fails if EITHER day's decomposition or the frontier
    * upsert is wrong). */
  def rolledCensusOf(events: DataFrame, tUs: Column,
                     c1: Long = SpectralDelta.DeltaCutUs,
                     c2: Long = Day2CutUs): DataFrame =
    rolled(events, tUs, c1, c2)._3

  /** (item, rank_warm, rank_cold, rank_drift, v_warm, v_cold, v_drift)
    * — see object doc. */
  def rollingRefreshOf(events: DataFrame, tUs: Column,
                       c1: Long = SpectralDelta.DeltaCutUs,
                       c2: Long = Day2CutUs): DataFrame = {
    val (cs0, m1, m2) = rolled(events, tUs, c1, c2)

    // day 0 priors (in-query; production reads artifacts). The four
    // prior vectors (r0/v0/r1/v1) each have exactly ONE reader — the
    // next stage's alignment join, which the warm loops checkpoint
    // internally — so none carries its own localCheckpoint.
    // r17 (guide §2.6): the rank chain (r0 → r1 → wcR) and the spectral
    // chain (v0 → v1 → wcV) are independent given the checkpointed
    // censuses — run the whole rank chain on a helper thread so the two
    // chains' eager per-round jobs and driver cost overlap (the q166
    // posture, across all three days).
    val (wcR, wcV) = graft.oracle.Par.par2(
      {
        val r0 = PageRankDelta.rankOf(cs0)
        // day 1: refresh off (cs0, f0, r0) + the d1 shard
        val r1 = PageRankDelta.rankFrom(m1, r0)
        // day 2: refresh off the COMPACTED state + the d2 shard; warm and
        // cold fused for the chained-drift audit
        PageRankDelta.rankWarmColdOf(m2, r1)
      },
      {
        val v0 = SpectralEmbed.spectralOf(
          WalkPmi.pmiOf(Backbone.backboneWeightedOf(DailyRefresh.pooled(cs0))
            .withColumnRenamed("w", "cnt")))
        val v1 = SpectralEmbed.spectralWarmOf(
          WalkPmi.pmiOf(Backbone.backboneWeightedOf(DailyRefresh.pooled(m1))
            .withColumnRenamed("w", "cnt")),
          v0, SpectralDelta.WarmRounds)
        SpectralDelta.spectralWarmColdOf(
          WalkPmi.pmiOf(Backbone.backboneWeightedOf(DailyRefresh.pooled(m2))
            .withColumnRenamed("w", "cnt")),
          v1, SpectralDelta.WarmRounds)
      })

    wcR.join(wcV.withColumnRenamed("node", "item"), Seq("item"), "left")
      .select(col("item"), col("rank_warm"), col("rank_cold"),
        abs(col("rank_warm") - col("rank_cold")).as("rank_drift"),
        col("v_warm"), col("v_cold"),
        abs(col("v_warm") - col("v_cold")).as("v_drift"))
  }

  /** N-CYCLE chain audit (r13 verdict Next #2): q169 proves TWO cycles
    * chain with shrinking drift; production runs the loop indefinitely,
    * and the open question was whether chained-warm drift stays bounded
    * over many cycles (run forever) or accumulates (refit weekly). This
    * drives the SAME closure machinery through `cuts.size` daily cycles —
    * census rolled additively, frontier upserted, rank and spectral
    * priors chained warm-output→warm-input — and at every cycle fuses a
    * COLD recompute alongside to measure the drift a monitor would watch
    * (the q170 `cent_shift` discipline applied to the whole arc).
    *
    * Returns ONE ROW PER CYCLE: (cycle, nodes, rank_l1, rank_max,
    * v_nodes, v_l1, v_max) — integer drift sums/maxima of the warm vs
    * cold rank (micro-units) and spectral (fixed-point) vectors. The
    * census closure at the final cycle is spec-pinned via
    * [[chainFinalCensusOf]] == the monolithic census (it fails if ANY
    * cycle's decomposition or upsert was wrong). tools/ChainProbe runs
    * this at sf0.1 / 7 cycles for the BASELINE.md drift curve.
    *
    * Scale shape: one corpus pass persisted; per cycle everything is
    * census-grain with the q169 localCheckpoint posture (each rolled
    * census and each chained prior roots its lineage, so driver
    * plan-analysis stays O(1) per cycle instead of O(cycle)). */
  def chainDriftOf(events: DataFrame, tUs: Column, cuts: Seq[Long]): DataFrame = {
    require(cuts.nonEmpty && cuts == cuts.sorted, s"cuts must be ascending: $cuts")
    val e = Tables.swapPersist("chain_e", CensusDelta.prep(events, tUs))
    val s = e.filter(col("t") < cuts.head)
    var cs = PageRankDelta.directedCensusOf(s).localCheckpoint()
    var f = Frontier.lastOf(s).localCheckpoint()
    // r17 (guide §2.6): rank and spectral priors are independent given
    // the checkpointed census — overlap their eager chains (q166 posture)
    var (r, v) = graft.oracle.Par.par2(
      PageRankDelta.rankOf(cs).localCheckpoint(),
      SpectralEmbed.spectralOf(
        WalkPmi.pmiOf(Backbone.backboneWeightedOf(DailyRefresh.pooled(cs))
          .withColumnRenamed("w", "cnt"))).localCheckpoint())

    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val his = cuts.tail.map(Some(_)) :+ None
    his.zipWithIndex.foreach { case (hi, idx) =>
      val lo = if (idx == 0) cuts.head else cuts(idx)
      val d = hi match {
        case Some(h) => e.filter(col("t") >= lo && col("t") < h)
        case None => e.filter(col("t") >= lo)
      }
      val m = PageRankDelta.mergedCensusOf(cs, f, d).localCheckpoint()
      f = Frontier.advance(f, Frontier.lastOf(d)).localCheckpoint()

      val k = idx + 1
      // per-cycle rank and spectral arms are independent — overlap them
      val (wcR, wcV) = graft.oracle.Par.par2(
        PageRankDelta.rankWarmColdOf(m, r)
          .localCheckpoint(),
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
      out += rd.crossJoin(vd).select(lit(k).as("cycle"), col("nodes"),
        col("rank_l1"), col("rank_max"), col("v_nodes"), col("v_l1"), col("v_max"))

      cs = m
      r = wcR.select(col("item"), col("rank_warm").as("rank_micro"))
      v = wcV.select(col("node"), col("v_warm").as("vfp"))
    }
    out.reduce(_ unionByName _)
  }

  /** The census after driving the chain through `cuts` — exactly the
    * rolled-census side of [[chainDriftOf]] without the drift arms.
    * RollingRefreshSpec pins it equal to the monolithic census for a
    * 4-cut chain (the N-cycle closure identity). */
  def chainFinalCensusOf(events: DataFrame, tUs: Column, cuts: Seq[Long]): DataFrame = {
    require(cuts.nonEmpty && cuts == cuts.sorted, s"cuts must be ascending: $cuts")
    val e = Tables.swapPersist("chainc_e", CensusDelta.prep(events, tUs))
    val s = e.filter(col("t") < cuts.head)
    var cs = PageRankDelta.directedCensusOf(s).localCheckpoint()
    var f = Frontier.lastOf(s).localCheckpoint()
    val his = cuts.tail.map(Some(_)) :+ None
    his.zipWithIndex.foreach { case (hi, idx) =>
      val lo = if (idx == 0) cuts.head else cuts(idx)
      val d = hi match {
        case Some(h) => e.filter(col("t") >= lo && col("t") < h)
        case None => e.filter(col("t") >= lo)
      }
      cs = PageRankDelta.mergedCensusOf(cs, f, d).localCheckpoint()
      f = Frontier.advance(f, Frontier.lastOf(d)).localCheckpoint()
    }
    cs
  }

  /** Daily cuts ENDING at [[Day2CutUs]]: the last `n` day boundaries of
    * the fixture month, so an n-cycle chain replays the final n days. */
  def dailyCuts(n: Int): Seq[Long] =
    (0 until n).map(k => Day2CutUs - 86400000000L * (n - 1 - k))

  // ---------------------------------------------------------------- q169
  def q169(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    rollingRefreshOf(ev, Tables.tsMicros(ev))
  }

  /** Oracle: monolithic censuses at the three cuts (equal to the
    * decomposed Spark path by the q154 identity — the SPEC pins the
    * decompositions; the oracle pins the values), then the three
    * spectral stacks and three rank stacks chained with the shared CTE
    * generators. */
  private def q169Sql(c1: Long = SpectralDelta.DeltaCutUs,
                      c2: Long = Day2CutUs): String = {
    val R = SpectralEmbed.Rounds
    val WR = SpectralDelta.WarmRounds
    val I = PageRankDelta.Iters
    val WI = PageRankDelta.WarmIters
    val scale = SpectralEmbed.Scale
    def census(src: String): String =
      s"""SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         |  FROM (SELECT item AS dst,
         |               lag(item) OVER (PARTITION BY user_id ORDER BY t, event_id) AS src
         |        FROM $src)
         |  WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2""".stripMargin
    def pooled(dir: String): String =
      s"""SELECT least(src, dst) AS a, greatest(src, dst) AS b,
         |         CAST(sum(w) AS BIGINT) AS w
         |  FROM $dir GROUP BY 1, 2""".stripMargin
    s"""WITH e AS (
       |  SELECT user_id, event_id,
       |         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item,
       |         epoch_us(ts) AS t
       |  FROM events
       |  WHERE TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
       |s0 AS (SELECT * FROM e WHERE t < $c1),
       |s1 AS (SELECT * FROM e WHERE t < $c2),
       |c0 AS MATERIALIZED (${census("s0")}),
       |em1 AS MATERIALIZED (${census("s1")}),
       |em2 AS MATERIALIZED (${census("e")}),
       |pc0 AS MATERIALIZED (${pooled("c0")}),
       |pm1 AS MATERIALIZED (${pooled("em1")}),
       |pm2 AS MATERIALIZED (${pooled("em2")}),
       |${SpectralDelta.backboneCtesOver("pc0", "s_")},
       |${SpectralDelta.pmiCtesOver("s_bb", "s_")},
       |${SpectralDelta.matCtesOver("s_")},
       |s_v0 AS MATERIALIZED (
       |  SELECT i AS node, CAST($scale AS BIGINT) AS v FROM s_nodes),
       |${SpectralDelta.roundCtesOver("s_", "s_mat", R)},
       |${SpectralDelta.backboneCtesOver("pm1", "a_")},
       |${SpectralDelta.pmiCtesOver("a_bb", "a_")},
       |${SpectralDelta.matCtesOver("a_")},
       |a_v0 AS MATERIALIZED (
       |  SELECT n.i AS node, CAST(coalesce(sv.v, $scale) AS BIGINT) AS v
       |  FROM a_nodes n LEFT JOIN s_v$R sv ON n.i = sv.node),
       |${SpectralDelta.roundCtesOver("a_", "a_mat", WR)},
       |${SpectralDelta.backboneCtesOver("pm2", "b_")},
       |${SpectralDelta.pmiCtesOver("b_bb", "b_")},
       |${SpectralDelta.matCtesOver("b_")},
       |b_v0 AS MATERIALIZED (
       |  SELECT i AS node, CAST($scale AS BIGINT) AS v FROM b_nodes),
       |${SpectralDelta.roundCtesOver("b_", "b_mat", R)},
       |w_v0 AS MATERIALIZED (
       |  SELECT n.i AS node, CAST(coalesce(av.v, $scale) AS BIGINT) AS v
       |  FROM b_nodes n LEFT JOIN a_v$WR av ON n.i = av.node),
       |${SpectralDelta.roundCtesOver("w_", "b_mat", WR)},
       |${PageRankDelta.stackCtes("c0", "sr_")},
       |sr_r0 AS (SELECT item, CAST(1000000 AS BIGINT) AS rank_micro FROM sr_nodes),
       |${PageRankDelta.roundCtes("sr_", "sr_", I)},
       |${PageRankDelta.stackCtes("em1", "ar_")},
       |ar_r0 AS (SELECT n.item, CAST(COALESCE(sr.rank_micro, 1000000) AS BIGINT) AS rank_micro
       |          FROM ar_nodes n LEFT JOIN sr_r$I sr ON n.item = sr.item),
       |${PageRankDelta.roundCtes("ar_", "ar_", WI)},
       |${PageRankDelta.stackCtes("em2", "br_")},
       |br_r0 AS (SELECT item, CAST(1000000 AS BIGINT) AS rank_micro FROM br_nodes),
       |${PageRankDelta.roundCtes("br_", "br_", I)},
       |wr_r0 AS (SELECT n.item, CAST(COALESCE(ar.rank_micro, 1000000) AS BIGINT) AS rank_micro
       |          FROM br_nodes n LEFT JOIN ar_r$WI ar ON n.item = ar.item),
       |${PageRankDelta.roundCtes("br_", "wr_", WI)}
       |SELECT c.item, w.rank_micro AS rank_warm, c.rank_micro AS rank_cold,
       |       abs(w.rank_micro - c.rank_micro) AS rank_drift,
       |       wv.v AS v_warm, cv.v AS v_cold,
       |       abs(wv.v - cv.v) AS v_drift
       |FROM br_r$I c
       |JOIN wr_r$WI w ON c.item = w.item
       |LEFT JOIN w_v$WR wv ON c.item = wv.node
       |LEFT JOIN b_v$R cv ON c.item = cv.node""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q169_rolling_refresh", q169, Some(q169Sql())))
}
