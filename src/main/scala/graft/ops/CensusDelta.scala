package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.oracle.{QueryDef, Tables}

/** q154 — incremental census-maintenance audit: the proof that the
  * weighted co-transition census (the substrate of q139–q153) is
  * maintainable from a settled census + a delta shard + USER-GRAIN
  * frontier state, without ever re-touching settled events.
  *
  * At 100 TB the month-grain edge census is never recomputed from
  * scratch: a batch job lands a delta shard and the census must update
  * from (a) transitions WITHIN the delta and (b) the one straddle
  * transition per user — (user's last settled item → user's first delta
  * item). The only state that makes (b) computable is the user-grain
  * frontier (one row per user), exactly what a streaming job
  * checkpoints. This query computes the delta-side components the
  * PRODUCTION way (delta shard + frontier join — the settled corpus is
  * never lagged on this path), merges them with the settled census, and
  * reconciles against the monolithic full-corpus census: the identity
  * holds because every consecutive non-null-item pair of a user is
  * within-settled, within-delta, or the single straddle pair.
  *
  * Semantics (both engines, bit-identical): items = non-null integer
  * `props.k` (filtered BEFORE the lag, so "consecutive" means
  * consecutive among item-events — the [[Triangles]] contract);
  * transitions pool directions via least/greatest and drop self-loops;
  * NO absolute support floor (components must merge additively — a
  * floor would not distribute over the split; callers filter after
  * merging). Frontier rows are row_number() over (t, event_id) — unique
  * per user on both engines (no max_by/arg_max tie-semantics risk).
  * Output is ONE audit row: edges/mass of the full and merged censuses,
  * straddle mass (how much the frontier state carries), and three
  * mismatch counters that the decomposition proof pins to zero.
  *
  * Scale shape: the prepped item-event frame persists ONCE for its
  * three window readers (full classed lag; delta-only lag; settled
  * frontier row_number). The classed census (a, b, class, w — ≤
  * 3·|vocab|² rows) persists for its two readers (full rollup + the
  * settled class). Everything after the lags is census-grain; the
  * reconciliation is one (a, b) full-outer join of two censuses; the
  * only BNLJ is the 1-row straddle-mass census. In production only the
  * delta-path cost recurs — the full lag exists here because the query
  * IS the audit. */
object CensusDelta {

  /** Fixture cutoff — the mid-corpus midpoint shared with q136
    * (TemporalLeakage): 2024-01-16 00:00 UTC. */
  val CutUs = 1705363200000000L

  /** (user_id, event_id, item, t) with non-null integer items. */
  private[graft] def prep(events: DataFrame, tUs: Column): DataFrame = prepWith(events, Seq(tUs.as("t")))

  /** (user_id, event_id, item): [[prep]] with no time column — the
    * arriving side of the stream-static gates and q161's item events. */
  private[graft] def prep(events: DataFrame): DataFrame = prepWith(events, Nil)

  private def prepWith(events: DataFrame, extra: Seq[Column]): DataFrame =
    events.select(Seq(col("user_id"), col("event_id"),
        // props.k is INTEGER-VALUED in the fixtures (TESTDATA.md). On a
        // non-integer numeric string the engines diverge (Spark's
        // cast("long") truncates '12.5'→12; DuckDB's TRY_CAST rounds or
        // NULLs) — if the item key ever becomes fractional, normalize
        // both sides with an integer-pattern guard before the cast.
        get_json_object(col("props"), "$.k").cast("long").as("item")) ++ extra: _*)
      .filter(col("item").isNotNull)

  /** Pooled minW=1 census of consecutive transitions within `e`. */
  private[ops] def censusOf(e: DataFrame): DataFrame =
    e.withColumn("src", lag(col("item"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))))
      .filter(col("src").isNotNull && col("src") =!= col("item"))
      .groupBy(least(col("src"), col("item")).as("a"),
        greatest(col("src"), col("item")).as("b"))
      .agg(count(lit(1)).as("w"))

  /** The audit row — see object doc. */
  def censusDeltaAuditOf(events: DataFrame, tUs: Column,
                         cutUs: Long = CutUs): DataFrame = {
    val e = Tables.swapPersist("q154_e", prep(events, tUs))

    // monolithic pass: ONE corpus lag, every transition classed by which
    // side(s) of the cut its two events fall on
    // r16: checkpoint — census-grain, lineage truncation (ppmiMatOf note)
    val classed =
      e.withColumn("src", lag(col("item"), 1).over(
          Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))))
        .withColumn("src_t", lag(col("t"), 1).over(
          Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))))
        .filter(col("src").isNotNull && col("src") =!= col("item"))
        .groupBy(least(col("src"), col("item")).as("a"),
          greatest(col("src"), col("item")).as("b"),
          when(col("t") < cutUs, lit("S"))
            .when(col("src_t") >= cutUs, lit("D"))
            .otherwise(lit("B")).as("side"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint()

    // production path: the delta census and the straddle census are
    // computed WITHOUT lagging settled events — delta shard + frontier
    val settled = e.filter(col("t") < cutUs)
    val delta = e.filter(col("t") >= cutUs)
    val cd = censusOf(delta)
    // r16: checkpoint — census-grain, lineage truncation (ppmiMatOf note)
    val cb =
      Frontier.straddleOf(settled, delta)
        .filter(col("s_item") =!= col("d_item"))
        .groupBy(least(col("s_item"), col("d_item")).as("a"),
          greatest(col("s_item"), col("d_item")).as("b"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint()

    val cs = classed.filter(col("side") === "S").select(col("a"), col("b"), col("w"))
    val merged = cs.unionByName(cd).unionByName(cb)
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
    val full = classed.groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))

    val j = full.select(col("a"), col("b"), col("w").as("w_full"))
      .join(merged.select(col("a"), col("b"), col("w").as("w_merged")),
        Seq("a", "b"), "full_outer")
    val straddle = cb.agg(coalesce(sum(col("w")), lit(0L)).as("straddle_mass"))
    j.agg(
        count(col("w_full")).as("edges_full"),
        coalesce(sum(col("w_full")), lit(0L)).as("mass_full"),
        count(col("w_merged")).as("edges_merged"),
        coalesce(sum(col("w_merged")), lit(0L)).as("mass_merged"),
        coalesce(sum(when(col("w_merged").isNull, lit(1L)).otherwise(lit(0L))), lit(0L))
          .as("missing_in_merged"),
        coalesce(sum(when(col("w_full").isNull, lit(1L)).otherwise(lit(0L))), lit(0L))
          .as("extra_in_merged"),
        coalesce(sum(when(col("w_full").isNotNull && col("w_merged").isNotNull
            && col("w_full") =!= col("w_merged"), lit(1L)).otherwise(lit(0L))), lit(0L))
          .as("w_mismatch"))
      .crossJoin(broadcast(straddle))
  }

  // ---------------------------------------------------------------- q154
  def q154(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.table(spark, sfDir, "events")
    censusDeltaAuditOf(ev, Tables.tsMicros(ev))
  }

  private def q154Sql(cutUs: Long = CutUs): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id,
       |         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item,
       |         epoch_us(ts) AS t
       |  FROM events
       |  WHERE TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL),
       |lagged AS (
       |  SELECT item, t,
       |         lag(item) OVER (PARTITION BY user_id ORDER BY t, event_id) AS src,
       |         lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS src_t
       |  FROM e),
       |classed AS (
       |  SELECT least(src, item) AS a, greatest(src, item) AS b,
       |         CASE WHEN t < $cutUs THEN 'S'
       |              WHEN src_t >= $cutUs THEN 'D'
       |              ELSE 'B' END AS side,
       |         CAST(count(*) AS BIGINT) AS w
       |  FROM lagged WHERE src IS NOT NULL AND src <> item
       |  GROUP BY 1, 2, 3),
       |d AS (SELECT * FROM e WHERE t >= $cutUs),
       |cd AS (
       |  SELECT least(src, item) AS a, greatest(src, item) AS b,
       |         CAST(count(*) AS BIGINT) AS w
       |  FROM (SELECT item,
       |               lag(item) OVER (PARTITION BY user_id ORDER BY t, event_id) AS src
       |        FROM d)
       |  WHERE src IS NOT NULL AND src <> item GROUP BY 1, 2),
       |ls AS (SELECT user_id, item AS s_item FROM (
       |         SELECT user_id, item, row_number() OVER (
       |           PARTITION BY user_id ORDER BY t DESC, event_id DESC) AS rn
       |         FROM e WHERE t < $cutUs) WHERE rn = 1),
       |fd AS (SELECT user_id, item AS d_item FROM (
       |         SELECT user_id, item, row_number() OVER (
       |           PARTITION BY user_id ORDER BY t, event_id) AS rn
       |         FROM d) WHERE rn = 1),
       |cb AS (SELECT least(s_item, d_item) AS a, greatest(s_item, d_item) AS b,
       |              CAST(count(*) AS BIGINT) AS w
       |       FROM ls JOIN fd USING (user_id) WHERE s_item <> d_item
       |       GROUP BY 1, 2),
       |merged AS (
       |  SELECT a, b, CAST(sum(w) AS BIGINT) AS w FROM (
       |    SELECT a, b, w FROM classed WHERE side = 'S'
       |    UNION ALL SELECT a, b, w FROM cd
       |    UNION ALL SELECT a, b, w FROM cb)
       |  GROUP BY 1, 2),
       |full_c AS (SELECT a, b, CAST(sum(w) AS BIGINT) AS w
       |           FROM classed GROUP BY 1, 2),
       |j AS (SELECT f.w AS w_full, m.w AS w_merged
       |      FROM full_c f FULL OUTER JOIN merged m ON f.a = m.a AND f.b = m.b),
       |sb AS (SELECT CAST(coalesce(sum(w), 0) AS BIGINT) AS straddle_mass FROM cb),
       |audit AS (
       |  SELECT CAST(count(w_full) AS BIGINT) AS edges_full,
       |         CAST(coalesce(sum(w_full), 0) AS BIGINT) AS mass_full,
       |         CAST(count(w_merged) AS BIGINT) AS edges_merged,
       |         CAST(coalesce(sum(w_merged), 0) AS BIGINT) AS mass_merged,
       |         CAST(coalesce(sum(CASE WHEN w_merged IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS missing_in_merged,
       |         CAST(coalesce(sum(CASE WHEN w_full IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS extra_in_merged,
       |         CAST(coalesce(sum(CASE WHEN w_full IS NOT NULL AND w_merged IS NOT NULL
       |                                AND w_full <> w_merged THEN 1 ELSE 0 END), 0) AS BIGINT) AS w_mismatch
       |  FROM j)
       |SELECT audit.*, sb.straddle_mass FROM audit, sb""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q154_census_delta", q154, Some(q154Sql())))
}
