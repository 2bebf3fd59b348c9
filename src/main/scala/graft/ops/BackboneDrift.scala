package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.oracle.{QueryDef, Tables}

/** q152 — temporal backbone drift: how much of the co-transition
  * structure survives from one period to the next.
  *
  * The month-grain backbone (q150, [[Backbone]]) answers "what is the
  * structure"; this answers "is it STABLE" — the audit a curator reads
  * before trusting any downstream artifact (communities, link
  * predictions, walk corpora) computed on last period's graph. At
  * 100 TB the edge census is recomputed incrementally per period, so
  * period-over-period stability is also the signal that an incremental
  * recompute can stop early: high retention ⇒ yesterday's topology
  * artifacts are still valid.
  *
  * Semantics (both engines, bit-identical): transitions are scoped to
  * one (user, epoch-week) — the per-user lag window partitions by
  * (user_id, wk), so a session straddling a week boundary contributes
  * no cross-period edge and each week's graph is computable from that
  * week's shard alone (the incremental-recompute contract). Per week:
  * the weighted census (a, b, w) with NO absolute support floor — the
  * relative top-`topBp`/10⁴ cut ([[Backbone]]'s τ, here derived per
  * period) replaces it, because a fixed absolute floor would thin
  * sparse periods to nothing while saturating dense ones. Per adjacent
  * pair (wk−1, wk) where BOTH weeks have a backbone: edge-set overlap
  * in exact integer bp — jaccard_bp = |∩|·10⁴ div |∪|, retained_bp =
  * |∩|·10⁴ div |prev|, fresh_bp = (|cur|−|∩|)·10⁴ div |cur|. All
  * denominators are ≥ 1 by the inner join on week sizes, so no zero
  * guards are needed and both engines truncate identically
  * (non-negative operands).
  *
  * Scale shape: the corpus-sized work (per-(user, week) ordered lag)
  * runs ONCE, upstream of the persisted per-week edge census (≤
  * |weeks|·|vocab|² rows — the [[Backbone]] posture with a period
  * key). τ comes off the per-week support histogram: groupBy (wk, w)
  * then a cumulative window PARTITIONED BY wk — unlike the global
  * backbone there is no single-partition window anywhere, the periods
  * rank in parallel. τ joins back as a |weeks|-row broadcast. The
  * drift join is a (wk, a, b) equi-join of the persisted backbone with
  * its own week-shifted projection — census-grain, co-keyed, never
  * corpus-sized. Output is |weeks|−1 rows. */
object BackboneDrift {

  /** Epoch-week micros: 7 · 86 400 · 10⁶. */
  private val WeekUs = 604800000000L

  /** Per-period weighted co-transition census (wk, a, b, w) with a < b;
    * the lag window partitions by (user_id, wk) so edges never cross a
    * period boundary. No absolute support floor — see the object doc. */
  def periodCensusOf(events: DataFrame, tUs: Column): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("wk"))
      .orderBy(col("t"), col("event_id"))
    CensusDelta.prep(events, tUs)
      .withColumn("wk", expr(s"t div $WeekUs"))
      .withColumn("src", lag(col("item"), 1).over(w))
      .filter(col("src").isNotNull && col("src") =!= col("item"))
      .groupBy(col("wk"), least(col("src"), col("item")).as("a"),
        greatest(col("src"), col("item")).as("b"))
      .agg(count(lit(1)).as("w"))
  }

  /** Per-period τ from the per-period support histogram — [[Backbone]]'s
    * v2 derivation with a period key: the cumulative window partitions
    * by wk (no single-partition window; periods rank in parallel) over
    * ≤ |weeks|·|distinct supports| rows. */
  private def tauByPeriod(pw: DataFrame, topBp: Long): DataFrame = {
    require(topBp >= 1L && topBp <= 10000L, s"topBp out of [1,10000]: $topBp")
    pw.groupBy(col("wk"), col("w")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("wk")).orderBy(col("w").desc)))
      .withColumn("m", sum(col("c")).over(Window.partitionBy(col("wk"))))
      .filter(expr(s"cum >= (m * ${topBp}L + 9999L) div 10000L"))
      .groupBy(col("wk")).agg(max(col("w")).as("tau"))
  }

  /** Adjacent-period drift census over a (wk, a, b, w) period census:
    * one row per week pair (wk−1, wk) where both weeks have a backbone.
    * Columns: period (the later week), m_prev, m_cur, m_common,
    * jaccard_bp, retained_bp, fresh_bp. */
  def driftOf(pw: DataFrame, topBp: Long = 1000L): DataFrame = {
    val pwP = Tables.swapPersist("q152_pw", pw)
    val strong = pwP.join(broadcast(tauByPeriod(pwP, topBp)), Seq("wk"))
      .filter(col("w") >= col("tau"))
      .select(col("wk"), col("a"), col("b"))
    // three readers: sizes, drift-join current side, drift-join shifted side
    val strongP = Tables.swapPersist("q152_strong", strong)
    val sizes = strongP.groupBy(col("wk")).agg(count(lit(1)).as("m"))
    val common = strongP
      .join(strongP.select((col("wk") + lit(1L)).as("wk"), col("a"), col("b")),
        Seq("wk", "a", "b"))
      .groupBy(col("wk")).agg(count(lit(1)).as("m_common"))
    sizes
      .join(sizes.select((col("wk") + lit(1L)).as("wk"), col("m").as("m_prev")),
        Seq("wk"))
      .join(common, Seq("wk"), "left")
      .select(col("wk").as("period"), col("m_prev"), col("m").as("m_cur"),
        coalesce(col("m_common"), lit(0L)).as("m_common"))
      .withColumn("jaccard_bp",
        expr("m_common * 10000L div (m_prev + m_cur - m_common)"))
      .withColumn("retained_bp", expr("m_common * 10000L div m_prev"))
      .withColumn("fresh_bp", expr("(m_cur - m_common) * 10000L div m_cur"))
  }

  /** Stream-static drift gate — q152's ingestion face: classify each
    * arriving co-transition edge against the FROZEN corpus structure,
    * surfacing novel structure the moment it appears instead of waiting
    * for the next period's drift census. Per arriving event: candidate
    * edge = (user's frozen last item, arriving item); verdict `strong`
    * if the edge is in the frozen backbone, `weak` if in the frozen
    * census but below the cut, `novel` if never seen. q152 then prices
    * how much `novel`/`weak` mass the NEXT census run will absorb.
    *
    * Scale shape (the triadGate posture): every frozen frame is vocab-
    * or user-grain and persisted once (weighted census + backbone flag +
    * per-user last item); the stream side is three stream-static
    * equi-joins — stateless append, no watermark, no state store (the
    * spec pins stateOperators empty and stream == batch). */
  def driftGateStreamStatic(streamEvents: DataFrame, staticEvents: DataFrame,
                            staticTUs: Column,
                            minW: Long = Triangles.DefaultMinW,
                            topBp: Long = 1000L): DataFrame = {
    val pw = Tables.swapPersist("drift_gate_pw",
      Triangles.weightedItemGraphOf(staticEvents, staticTUs, minW))
    val strong = Tables.swapPersist("drift_gate_strong",
      Backbone.backboneOf(pw, topBp).withColumn("in_backbone", lit(true)))
    Triangles.arrivalPairsOf(streamEvents, staticEvents, staticTUs, "drift_gate_last")
      .join(pw, Seq("a", "b"), "left")
      .join(strong.select(col("a"), col("b"), col("in_backbone")), Seq("a", "b"), "left")
      .select(col("user_id"), col("event_id"), col("a"), col("b"),
        coalesce(col("w"), lit(0L)).as("w"),
        when(coalesce(col("in_backbone"), lit(false)), lit("strong"))
          .when(col("w").isNotNull, lit("weak"))
          .otherwise(lit("novel")).as("verdict"))
  }

  // ---------------------------------------------------------------- q152
  def q152(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    driftOf(periodCensusOf(ev, Tables.tsMicros(ev)))
  }

  /** DuckDB mirror — the same CTE stack, HUGEINT-safe (sum→HUGEINT is
    * fine inside wc's comparison; every output column casts to BIGINT). */
  private def q152Sql(topBp: Long = 1000L): String =
    s"""WITH e0 AS (
       |  SELECT user_id, event_id,
       |         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item,
       |         epoch_us(ts) AS t
       |  FROM events),
       |e AS (SELECT *, t // $WeekUs AS wk FROM e0 WHERE item IS NOT NULL),
       |l AS (SELECT wk, item,
       |             lag(item) OVER (PARTITION BY user_id, wk ORDER BY t, event_id) AS src
       |      FROM e),
       |pw AS (SELECT wk, least(src, item) AS a, greatest(src, item) AS b,
       |              CAST(count(*) AS BIGINT) AS w
       |       FROM l WHERE src IS NOT NULL AND src <> item
       |       GROUP BY 1, 2, 3),
       |wh AS (SELECT wk, w, count(*) AS c FROM pw GROUP BY 1, 2),
       |wc AS (SELECT wk, w, sum(c) OVER (PARTITION BY wk ORDER BY w DESC) AS cum,
       |              sum(c) OVER (PARTITION BY wk) AS m
       |       FROM wh),
       |tau AS (SELECT wk, max(w) AS t FROM wc
       |        WHERE cum >= (m * $topBp + 9999) // 10000 GROUP BY wk),
       |strong AS (SELECT pw.wk, a, b FROM pw
       |           JOIN tau ON pw.wk = tau.wk AND pw.w >= tau.t),
       |sz AS (SELECT wk, CAST(count(*) AS BIGINT) AS m FROM strong GROUP BY wk),
       |com AS (SELECT cur.wk, CAST(count(*) AS BIGINT) AS m_common
       |        FROM strong cur
       |        JOIN strong prv ON cur.wk = prv.wk + 1
       |                       AND cur.a = prv.a AND cur.b = prv.b
       |        GROUP BY 1)
       |SELECT cur.wk AS period, prv.m AS m_prev, cur.m AS m_cur,
       |       coalesce(com.m_common, 0) AS m_common,
       |       CAST(coalesce(com.m_common, 0) * 10000
       |            // (prv.m + cur.m - coalesce(com.m_common, 0)) AS BIGINT) AS jaccard_bp,
       |       CAST(coalesce(com.m_common, 0) * 10000 // prv.m AS BIGINT) AS retained_bp,
       |       CAST((cur.m - coalesce(com.m_common, 0)) * 10000 // cur.m AS BIGINT) AS fresh_bp
       |FROM sz cur
       |JOIN sz prv ON cur.wk = prv.wk + 1
       |LEFT JOIN com ON com.wk = cur.wk""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q152_backbone_drift", q152, Some(q152Sql())))
}
